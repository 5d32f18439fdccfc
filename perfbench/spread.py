#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per metric, the median,
the quartiles and the spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload geo_serve --seeds 1-10 --seconds 15 \
        [--out perfbench/baseline/geo_serve.json]

Quartiles are Python's `statistics.quantiles(values, n=4)`. With `--out` the
summary is also written as JSON, together with each run's raw values.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("nan")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {p.returncode}: {lines[-1] if lines else ''}")
        res = json.loads(lines[-1])
        if not res["correct"] or res["failed"]:
            sys.exit(f"seed {seed}: {lines[-1]}")
        res["seed"] = seed
        res["wall_s"] = time.time() - t0
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed} ({res['wall_s']:.0f} s): {vals}", flush=True)
    names = list(runs[0]["metrics"])
    summary = {n: summarize([r["metrics"][n]["value"] for r in runs]) for n in names}
    for n, s in summary.items():
        print(f"{n:32s} median {s['median']:.6g}  q1 {s['q1']:.6g}  q3 {s['q3']:.6g}  spread {s['spread']:.4f}")
    print(f"wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "summary": summary, "runs": runs}, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
