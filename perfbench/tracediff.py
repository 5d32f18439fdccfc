#!/usr/bin/env python3
"""Compares the per-layer metrics of traced runs before and after a change
and flags the ones that moved by more than their run-to-run spread.

    python3 perfbench/tracediff.py BEFORE.json [BEFORE2.json ...] -- AFTER.json [AFTER2.json ...]

Inputs are the trace files a `--trace 1` run writes to
`.bench_build/out/trace-<workload>-<seed>.json`. With two or more files on a
side, a metric's spread on that side is (max - min) / |median| across the
files. With one file, it is the interquartile range over the run's own
samples, where the metric keeps them. The larger of the two sides' spreads
is the noise band; a metric whose median moved by more than it is flagged.
"""
import json
import statistics
import sys


def load(paths):
    runs = [json.load(open(p)) for p in paths]
    out = {}
    for r in runs:
        for name, m in r["metrics"].items():
            if m["value"] is not None:
                out.setdefault(name, {"unit": m["unit"], "values": [], "samples": []})
                out[name]["values"].append(m["value"])
                out[name]["samples"].extend(r.get("samples", {}).get(name, []))
    return out


def spread(entry):
    vals, med = entry["values"], statistics.median(entry["values"])
    if len(vals) >= 2:
        return (max(vals) - min(vals)) / abs(med) if med else None
    s = entry["samples"]
    if len(s) >= 4:
        q1, _, q3 = statistics.quantiles(s, n=4)
        m = statistics.median(s)
        return (q3 - q1) / abs(m) if m else None
    return None


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    before, after = load(argv[:i]), load(argv[i + 1:])
    if not before or not after:
        sys.exit("need at least one trace file on each side")
    print(f"{'metric':34s} {'before':>14s} {'after':>14s} {'change':>9s} {'noise':>8s}")
    moved = 0
    for name in sorted(set(before) & set(after)):
        b, a = before[name], after[name]
        mb, ma = statistics.median(b["values"]), statistics.median(a["values"])
        change = (ma - mb) / abs(mb) if mb else (0.0 if ma == mb else float("inf"))
        noises = [s for s in (spread(b), spread(a)) if s is not None]
        noise = max(noises) if noises else None
        flag = noise is not None and abs(change) > noise
        moved += flag
        print(f"{name:34s} {mb:14.6g} {ma:14.6g} {change:+8.1%} "
              f"{'   n/a' if noise is None else f'{noise:7.1%}'}{'  MOVED' if flag else ''}")
    for name in sorted(set(before) ^ set(after)):
        print(f"{name:34s} only {'before' if name in before else 'after'}")
    print(f"{moved} metric(s) moved beyond their run-to-run spread")


if __name__ == "__main__":
    main(sys.argv[1:])
