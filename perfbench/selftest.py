#!/usr/bin/env python3
"""Proves the output checkers catch wrong answers: each workload runs once
with one program output corrupted before it is checked, and must fail.

    python3 perfbench/selftest.py [--seconds 4]

The corruptions: a row dropped from a `/query` response (geo_serve), a
wrong payload in a point lookup (cdc_mixed) and a spurious near-duplicate
pair (corpus_dedup). A run counts as caught only if its checker reported
the wrong answer: a `WRONG ANSWER` line on standard error, `"correct": false`
on the last line of standard output and exit code 1. Exits 0 only if every
corrupted run was caught.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CASES = [("geo_serve", "drop_row"), ("cdc_mixed", "bad_lookup"), ("corpus_dedup", "spurious_pair")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=int, default=4)
    args = ap.parse_args()
    ok = True
    for workload, fault in CASES:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", str(args.seconds), "--trace", "0",
                            "--inject", fault],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        verdict = None
        if lines:
            try:
                verdict = json.loads(lines[-1]).get("correct")
            except ValueError:
                pass
        reason = [l for l in p.stderr.splitlines() if "WRONG ANSWER" in l]
        # a build failure, a timeout or an unrelated crash is not a catch:
        # the checker must have reported the wrong answer itself
        caught = p.returncode == 1 and verdict is False and bool(reason)
        ok &= caught
        print(f"{workload:13s} {fault:14s} {'caught' if caught else 'MISSED'} "
              f"(exit {p.returncode}) {reason[0] if reason else ''}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
