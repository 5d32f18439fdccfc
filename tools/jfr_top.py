#!/usr/bin/env python3
"""Summarizes the execution samples of a JDK Flight Recorder file.

    python3 tools/jfr_top.py REC.jfr [--last S | --from S --to S]
                             [--threads REGEX] [--under FRAME ...] [--top N]

Reads the recording through the JDK's `jfr print --json` (the `jfr` tool
must be on PATH) and reports, within a time window:

- samples by thread group (thread names with their numbers and per-task
  suffixes folded, e.g. "Executor task launch worker");
- the top self frames (the sampled leaf method) of the threads matching
  `--threads`;
- for each `--under FRAME`, the share of those samples with a frame whose
  `package.Class.method` name contains FRAME anywhere on the stack.

The window is `--last S` (the last S seconds of the samples) or
`--from S --to S` (seconds after the first sample); the default is the
whole recording. Record a JVM without changing its launcher by setting,
for example,

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=rec.jfr,settings=profile
                       -XX:FlightRecorderOptions=stackdepth=256"

A stack deeper than the recorded depth loses its outermost frames, so
`--under` undercounts frames that sit below that depth.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys


def frame_name(frame):
    m = frame["method"]
    # a Scala object's methods sit on `Name$`: report them on `Name`
    return (m["type"]["name"].replace("/", ".") + "." + m["name"]).replace("$.", ".")


def thread_group(name):
    name = re.split(r" for | \(", name, maxsplit=1)[0]
    return re.sub(r"\d+", "N", name).strip()


def when(stamp):
    # "2026-10-19T21:48:05.020691637Z": keep microseconds for fromisoformat
    head, _, frac = stamp.rstrip("Z").partition(".")
    return datetime.datetime.fromisoformat(f"{head}.{(frac + '000000')[:6]}")


def samples(path):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                         check=True, stdout=subprocess.PIPE).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = v.get("sampledThread") or {}
        trace = v.get("stackTrace") or {"frames": []}
        yield (when(v["startTime"]), thread.get("javaName") or thread.get("osName") or "?",
               [frame_name(f) for f in trace["frames"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--last", type=float, help="window: the last S seconds of the samples")
    ap.add_argument("--from", dest="start", type=float, help="window start, s after the first sample")
    ap.add_argument("--to", dest="end", type=float, help="window end, s after the first sample")
    ap.add_argument("--threads", default="", help="regex on thread names for frames and shares")
    ap.add_argument("--under", action="append", default=[], help="frame name substring")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    rows = sorted(samples(args.recording), key=lambda r: r[0])
    if not rows:
        sys.exit("jfr_top: no execution samples in the recording")
    t0, t1 = rows[0][0], rows[-1][0]
    lo, hi = 0.0, (t1 - t0).total_seconds()
    if args.last is not None:
        lo = max(0.0, hi - args.last)
    if args.start is not None:
        lo = args.start
    if args.end is not None:
        hi = args.end
    rows = [r for r in rows if lo <= (r[0] - t0).total_seconds() <= hi]
    print(f"window {lo:.1f}..{hi:.1f} s after the first sample "
          f"({t0.isoformat(timespec='seconds')}): {len(rows)} samples")

    groups = collections.Counter(thread_group(name) for _, name, _ in rows)
    print("\nsamples by thread group:")
    for g, n in groups.most_common(args.top):
        print(f"  {n:7d}  {100.0 * n / len(rows):5.1f}%  {g}")

    pick = re.compile(args.threads)
    chosen = [stack for _, name, stack in rows if pick.search(name)]
    label = f"threads matching '{args.threads}'" if args.threads else "all threads"
    print(f"\ntop self frames, {label} ({len(chosen)} samples):")
    leaves = collections.Counter(stack[0] if stack else "(no stack)" for stack in chosen)
    for f, n in leaves.most_common(args.top):
        print(f"  {n:7d}  {100.0 * n / max(1, len(chosen)):5.1f}%  {f}")

    for frame in args.under:
        n = sum(1 for stack in chosen if any(frame in f for f in stack))
        print(f"\nunder '{frame}': {n} of {len(chosen)} samples "
              f"({100.0 * n / max(1, len(chosen)):.1f}%), {label}")


if __name__ == "__main__":
    main()
