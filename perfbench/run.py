#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as bare JSON lines.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt on first use (the build is
reused while no source changes), then runs perfbench.Main in one JVM.
Every stdout line is a JSON object; the last one is the summary. The
exit code is non-zero when the build fails, a run fails, or an output
check fails. Workloads: nightly and query_suite; catalog_load and
dedup_nightly run one half of nightly each.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("nightly", "query_suite", "catalog_load", "dedup_nightly")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
# The JIT's first tier only. A run is too short for the optimizing tier
# to finish: with it, the same query pass kept getting faster for ten
# passes, so a timed round measured how far background compilation had
# got, which depends on how busy the host was during set-up. With the
# first tier alone the rounds run at their steady speed from the second
# one on, about as fast at these input sizes, and set-up is ~10 s
# shorter.
JIT = ["-XX:TieredStopAtLevel=1"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build, to reuse a build that matches."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless a build of the same sources exists;
    return the runtime classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cp:
                    return cp.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(digest + "\n")
    with open(cp_file) as cp:
        return cp.read().strip()


def main():
    # a terminated run still stops its JVM and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}; run from a repository checkout")
        return 2
    classpath = build()

    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        *JIT, "-Xms1536m", "-Xmx1536m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--t0-ms", str(int(time.time() * 1000)),
        "--data", os.path.join(BENCH, "data"), "--work", work,
        "--out", os.path.join(ROOT, ".perfbench_out")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, bufsize=1)
    timed_out = threading.Event()

    def stop():
        timed_out.set()
        proc.kill()

    watchdog = threading.Timer(RUN_TIMEOUT_S, stop)
    watchdog.start()
    summary = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                print(line, flush=True)
                summary = line
            else:
                print(line, file=sys.stderr, flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch state is still there
    if timed_out.is_set():
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopped it")
        return 124
    if rc == 0 and (summary is None or '"correct":true' not in summary):
        rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
