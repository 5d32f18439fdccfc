#!/usr/bin/env python3
"""Builds graft and the benchmark harness from this checkout, then runs one
benchmark workload.

    python3 perfbench/run.py --workload geo_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The build (sbt, offline) goes to
`.bench_build/` and is reused while the sources are unchanged. The last
line of standard output is the result object printed by the harness.
Extra flags (`--inject ...`) pass through to the harness.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "stamp")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input the build depends on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources under src/main/scala/graft: run from a full checkout")
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    cps = [l for l in lines if ".bench_build" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = cps[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return cp


def java_cmd(cp, harness_args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: a heap that grows on demand left peak RSS
    # 17-40% apart between runs, as the collector chose when to expand it;
    # the harness reports peak RSS less this heap (`offheap_rss_mb`).
    # JVM log lines go to stderr so the result stays the last stdout line;
    # no perf-data file outside the checkout
    return (["java", "-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch", "-Xlog:all=warning:stderr",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [a for o in JAVA_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main"] + harness_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args, extra = ap.parse_known_args()
    cp = build()
    java = java_cmd(cp, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", args.trace] + extra)
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    last = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run timed out")
    for line in out.splitlines():
        if line.strip():
            print(line)
            last = line
    sys.stdout.flush()
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    if last is None or not last.startswith("{"):
        die("harness printed no result")


if __name__ == "__main__":
    main()
