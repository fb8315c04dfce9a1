"""CPU time and resident memory of a process tree, read from /proc.

The benchmark reads these from outside the program: the JVM that
PySpark launches and every Python worker below it. CPU time of a child
that has exited and been reaped moves into its parent's ``cutime`` /
``cstime``, so summing ``utime+stime+cutime+cstime`` over the live tree
never loses a worker that came and went between two readings.
"""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if
    the process is gone. Index 0 is field 3 (state) of proc(5)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat_fields(int(d))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(v) for v in f[11:15])
    return ticks / _TCK


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: the
    time a hypervisor ran other guests while this one's CPUs waited."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak`` is
    the largest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_bytes(self.root))
        return self.peak
