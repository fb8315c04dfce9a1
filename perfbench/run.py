"""pyramids_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. The run starts a local[nproc] Spark session,
builds the workload's seeded inputs, runs one untimed warm-up iteration,
then timed iterations of public operator calls for ``--seconds`` (at
least MIN_ITERS of them), checks
every call's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate traced run (spans, job
groups, Spark event log) that reports the per-layer metrics. The full
record, with the host fingerprint, goes to ``perfbench/.work/records``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DIGESTS = os.path.join(HERE, "digests.json")

DEFAULT_SEED = 7
HELD_OUT_SEED = 1009
# The docs table is prepared once per checkout from this seed: preparing a
# table per run seed costs 20-30 s, more than the run's own budget. Run
# seeds move the zone sets the docs are joined against.
DOCS_SEED = DEFAULT_SEED
MIN_ITERS = 3  # timed iterations per run at least: rows_per_s and cpu_s are their medians
TRACED_IT = 10_000  # iteration key of the traced-only calls

# (name, unit, better) of every metric, as BENCHMARK.json names them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
END_TO_END = [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]]
# per-layer fields folded from the event log over a call's build + action spans
_EVENT_FIELDS = {"py_s", "py_bytes", "shuffle_bytes", "straggler", "cpu_s", "jobs"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start = int(s[s.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def setup_env() -> None:
    """Imports from the checkout, in this process and in Python workers
    (which the JVM starts with this environment); every scratch file stays
    in the checkout."""
    sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    for d in ("tmp", "local", "records"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # -UsePerfData: no hsperfdata file in /tmp (it ignores java.io.tmpdir)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


def start_spark(app: str, trace_dir: str | None):
    """local[nproc] session with every scratch path inside the checkout;
    ``trace_dir`` turns on the Spark event log there."""
    from pyramids_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{trace_dir}"})
    spark = get_spark(app, master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for its Python workers."""
    import procstat

    sc = spark.sparkContext
    proc = sc._gateway.proc
    tree = procstat.tree(proc.pid)
    spark.stop()
    sc._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def fingerprint(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark

    return {
        "nproc": cpus(),
        "mem_gb": round(mem_kb / 2**20),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> list[float]:
    xs = list(xs)
    return [float(q) for q in statistics.quantiles(xs, n=4)] if len(xs) >= 2 else xs * 3


class Run:
    """One run's state: results and failures per (iteration, call), spans."""

    def __init__(self, spark, tracer, workload: str, seed: int, docs_path, record: bool):
        self.spark = spark
        self.tracer = tracer
        self.workload = workload
        self.seed = seed
        self.work = WORK
        self.docs_path = docs_path
        from prepare import docs_start

        self.docs_start = docs_start(DOCS_SEED)
        self.record = record
        self.results: dict[tuple, object] = {}
        self.attempted: set[tuple] = set()
        self.failed: set[tuple] = set()
        self.messages: list[str] = []
        self.digests = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as f:
                self.digests = json.load(f)

    # --- calls ------------------------------------------------------------
    def _guard(self, it, name, span_name, fn, parent, counted):
        if counted:
            self.attempted.add((it, name))
        with self.tracer.span(span_name, parent, it=it):
            try:
                return True, fn()
            except Exception:
                self.failed.add((it, name))
                self.messages.append(f"{name} it={it} raised:\n{traceback.format_exc()}")
                return False, None

    def call(self, it, name, fn, parent=None, counted=True):
        """Run one public call under its span; keep its result for checks.
        ``counted=False`` marks a diagnostic call outside the op count."""
        ok, res = self._guard(it, name, name, fn, parent, counted)
        if ok:
            self.results[(it, name)] = res
        return res

    def build(self, it, name, fn):
        """Build a call's DataFrame under the ``<name>.build`` span."""
        return self._guard(it, name, f"{name}.build", fn, None, counted=True)[1]

    # --- checks -----------------------------------------------------------
    def results_of(self, name):
        return sorted(((k, v) for k, v in self.results.items() if k[1] == name), key=lambda kv: kv[0][0])

    def expect(self, it, name, ok, msg) -> None:
        if not ok:
            self.failed.add((it, name))
            self.messages.append(f"{name} it={it}: {msg}")

    def expect_digest(self, it, name, value) -> None:
        """Compare with the digest recorded for this seed and iteration at
        the commit that defined the benchmark (or record it)."""
        per = self.digests.setdefault(self.workload, {}).setdefault(str(self.seed), {}).setdefault(name, {})
        if self.record:
            per[str(it)] = value
        elif str(it) in per:
            self.expect(it, name, per[str(it)] == value, f"digest {value} != recorded {per[str(it)]}")

    # --- per-layer --------------------------------------------------------
    def median_of(self, name, f) -> float:
        return median(f(v) for (it, _), v in self.results_of(name) if it >= 0)

    def span_durations(self, name) -> dict[int, float]:
        out: dict[int, float] = {}
        for s in self.tracer.spans:
            if s["name"] == name and s.get("it", -1) >= 0:
                out[s["it"]] = out.get(s["it"], 0.0) + s["end"] - s["start"]
        return out


def per_layer_metrics(run: Run, w, folded: dict, build_jobs: dict) -> dict:
    out: dict[str, float] = {}
    by_name: dict[str, dict[int, list]] = {}
    for s in run.tracer.spans:
        if s.get("it", -1) >= 0:
            by_name.setdefault(s["name"], {}).setdefault(s["it"], []).append(s)
    for name, _unit, _b in PER_LAYER:
        call, field = name.rsplit(".", 1)
        if field == "s":
            out[name] = median(run.span_durations(call).values())
        elif field == "build_s":
            out[name] = median(run.span_durations(call + ".build").values())
        elif field == "build_jobs":
            out[name] = median(
                sum(build_jobs.get(s["id"], 0) for s in ss)
                for ss in by_name.get(call + ".build", {}).values())
        elif field in _EVENT_FIELDS:
            vals = []
            for it in by_name.get(call, {}):
                ss = by_name[call][it] + by_name.get(call + ".build", {}).get(it, [])
                fs = [folded.get(s["id"], {}) for s in ss]
                agg = max if field == "straggler" else sum
                vals.append(agg(f.get(field, 0.0) for f in fs) if fs else 0.0)
            out[name] = median(vals)
    w.derived(out)
    return {name: float(out.get(name, 0.0)) for name, _u, _b in PER_LAYER}


def parse(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="pyramids_spark benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's output digests as the reference for its seed")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "pyramids_spark")) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        print(f"pyramids_spark and bench.py must sit beside {HERE}", file=sys.stderr)
        return 2
    setup_env()
    args = parse(argv)
    warnings.filterwarnings("ignore", message="Cannot infer the eval type")

    import procstat
    import workloads
    from prepare import docs_path
    from spans import Tracer, self_times

    W = workloads.WORKLOADS[args.workload]
    docs = None
    prepare_s = 0.0
    if W is workloads.VectorJoins:
        docs = docs_path(DOCS_SEED, workloads.N_DOCS)
        if not os.path.exists(os.path.join(docs, "_SUCCESS")):
            t = time.time()
            subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), "--seed", str(DOCS_SEED),
                            "--rows", str(workloads.N_DOCS)], check=True, stdout=sys.stderr)
            prepare_s = time.time() - t

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    trace_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    spark = start_spark("perfbench", trace_dir)
    session_s = process_age() - prepare_s
    jvm = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(spark.sparkContext, bool(args.trace), run_id)
    run = Run(spark, tracer, args.workload, args.seed, docs, args.record_digests)
    w = W(run)
    try:
        t = time.perf_counter()
        w.inputs()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("warmup", it=-1):
            w.iteration(-1)
        warmup_s = time.perf_counter() - t

        sampler = procstat.PeakRss(jvm).start()
        steal0 = procstat.host_ticks()
        walls, rows_per_s, cpu_per_iter = [], [], []
        t_measure = time.perf_counter()
        it = 0
        while it < MIN_ITERS or time.perf_counter() - t_measure < args.seconds:
            c0 = procstat.cpu_seconds(jvm)
            t0 = time.perf_counter()
            with tracer.span("iteration", it=it):
                w.iteration(it)
            wall = time.perf_counter() - t0
            cpu_per_iter.append(procstat.cpu_seconds(jvm) - c0)
            walls.append(wall)
            rows_per_s.append(w.rows() / wall)
            it += 1
        peak = sampler.stop()
        steal1 = procstat.host_ticks()
        phases = {"measure_s": time.perf_counter() - t_measure,
                  "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}
        t = time.perf_counter()
        w.after_loop(it)
        if args.trace:
            w.traced_only(TRACED_IT)
        phases["after_loop_s"] = time.perf_counter() - t
        t = time.perf_counter()
        w.check()
        phases["check_s"] = time.perf_counter() - t
        build_jobs = {s["id"]: len(tracer.job_ids(s["id"])) for s in tracer.spans
                      if s["name"].endswith(".build")}
        fp = fingerprint(spark)
    finally:
        t = time.perf_counter()
        w.release()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    setup_s = session_s + inputs_s + warmup_s
    failed = len(run.failed & run.attempted)
    correct = failed == 0 and bool(run.attempted)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "run_id": run_id,
        "fingerprint": fp, "iterations": it, "prepare_s": prepare_s,
        "rows_per_s": {"median": median(rows_per_s), "quartiles": quartiles(rows_per_s), "n": it},
        "cpu_s": {"median": median(cpu_per_iter), "quartiles": quartiles(cpu_per_iter), "n": it},
        "per_iteration": {"wall_s": walls, "cpu_s": cpu_per_iter},
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warmup_s},
        "phases": {**phases, "stop_s": stop_s, "age_s": process_age()},
        "errors": run.messages,
    }
    if args.trace:
        import eventlog

        folded = eventlog.fold_dir(trace_dir)
        selfs = self_times(tracer.spans)
        pl = per_layer_metrics(run, w, folded, build_jobs)
        pl.update({"session.get_spark.s": session_s, "setup.inputs.s": inputs_s,
                   "setup.warmup.s": warmup_s, "trace.rows_per_s": median(rows_per_s)})
        metrics = {n: {"value": pl[n], "unit": u} for n, u, _b in PER_LAYER}
        record["spans"] = [{**s, "self_s": selfs[s["id"]], **folded.get(s["id"], {}),
                            "build_jobs": build_jobs.get(s["id"])} for s in tracer.spans]
        shutil.rmtree(trace_dir, ignore_errors=True)
    else:
        e2e = {"rows_per_s": median(rows_per_s), "setup_s": setup_s,
               "cpu_s": median(cpu_per_iter), "peak_rss_mb": peak / 2**20}
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _b in END_TO_END}
    record["metrics"] = metrics
    record_path = os.path.join(WORK, "records", run_id + ".json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.record_digests:
        with open(DIGESTS, "w") as f:
            json.dump(run.digests, f, indent=1, sort_keys=True)
    for m in run.messages:
        print(m, file=sys.stderr)
    print(f"record {record_path}")
    print(f"{args.workload} seed={args.seed} iterations={it} rows_per_s quartiles="
          f"{record['rows_per_s']['quartiles']} cpu_s quartiles={record['cpu_s']['quartiles']}")
    print(json.dumps({"correct": correct, "attempted": len(run.attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
