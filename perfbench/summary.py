"""Repeat benchmark runs over seeds, and compare two sets of runs.

    python3 perfbench/summary.py run --workload W --seeds 1-10 [--trace 0|1]
        [--seconds S] --out FILE
    python3 perfbench/summary.py compare BASE.json NEW.json

``run`` runs ``perfbench/run.py`` once per seed, in turn, and writes every
run's result and record with, per metric, the median and the spread (the
distance between the first and third quartile as a share of the median).
``compare`` prints each metric's median on both sides and their ratio. It
refuses two summaries whose host fingerprints differ: numbers from another
core count, memory size, Spark, Java or Python version, or master are not
comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def summarize(runs: list[dict]) -> dict:
    names = sorted({m for r in runs for m in r["result"]["metrics"]})
    out = {}
    for m in names:
        vals = [r["result"]["metrics"][m]["value"] for r in runs if m in r["result"]["metrics"]]
        out[m] = {"median": statistics.median(vals),
                  "spread": spread(vals) if len(vals) >= 2 else None, "n": len(vals)}
    return out


def run(args) -> int:
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(p.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        result = json.loads(lines[-1])
        rec_path = next(l.split(" ", 1)[1] for l in lines if l.startswith("record "))
        with open(rec_path) as f:
            record = json.load(f)
        runs.append({"seed": seed, "result": result, "record": record})
        m = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {m}", flush=True)
    fps = {json.dumps(r["record"]["fingerprint"], sort_keys=True) for r in runs}
    if len(fps) != 1:
        raise SystemExit(f"runs disagree on the host fingerprint: {fps}")
    out = {"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
           "fingerprint": runs[0]["record"]["fingerprint"], "summary": summarize(runs), "runs": runs}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for m, s in out["summary"].items():
        print(f"{m}: median {s['median']:.6g} spread {s['spread']}")
    return 0


def compare(args) -> int:
    with open(args.base) as f:
        a = json.load(f)
    with open(args.new) as f:
        b = json.load(f)
    if a["fingerprint"] != b["fingerprint"]:
        print(f"refusing to compare: fingerprints differ\n {a['fingerprint']}\n {b['fingerprint']}",
              file=sys.stderr)
        return 2
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("refusing to compare different workloads or trace modes", file=sys.stderr)
        return 2
    for m in sorted(set(a["summary"]) & set(b["summary"])):
        ma, mb = a["summary"][m]["median"], b["summary"][m]["median"]
        ratio = mb / ma if ma else float("nan")
        print(f"{m}: {ma:.6g} -> {mb:.6g} ({ratio:.3f}x)")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 7,1009")
    r.add_argument("--seconds", type=float, default=15)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    args = ap.parse_args(argv)
    return run(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
