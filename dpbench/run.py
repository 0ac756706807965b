#!/usr/bin/env python3
"""Run one workload of the DP-SQLP pipeline benchmark.

Usage, from the repository root:

    python3 dpbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the program's sources (sbt, only when a
source changed), then runs the harness JVM on the built classpath. The last
line of stdout is the run's JSON result; progress and logs go to stderr.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["replay_t100", "stream_sealed"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[dpbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build: the harness and the program."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is terminated, and waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit("dpbench: stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)


def build():
    stamp = os.path.join(HERE, "target", "fingerprint.txt")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return cp_file
    log("building harness and program with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "compile", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"dpbench: build failed (exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("dpbench: the program's sources (build.sbt, src/main/scala/graft) are not here")

    cp_file = build()
    with open(cp_file) as fh:
        cp = fh.read().strip()
    work = os.path.join(HERE, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "dpbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    t0 = time.time()
    rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    if rc is None:
        sys.exit(f"dpbench: run exceeded {RUN_TIMEOUT_S} s and was stopped")
    log(f"run finished in {time.time() - t0:.1f} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
