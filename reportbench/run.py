#!/usr/bin/env python3
"""Report-pipeline benchmark: build graft from source, run one workload.

Usage, from the root of a checkout:

    python3 reportbench/run.py --workload report_full|report_inc|upsert_inc \
        --seed N --seconds S --trace 0|1

The first run builds graft and the harness with sbt (offline) and keeps
the JVM launch arguments in reportbench/target/launch.txt, stamped with
a hash of every input of the build; later runs start the JVM directly.
The JVM's stdout is passed through, so the last line printed is the
result JSON; its stderr (Spark's log) goes to reportbench/out/. Exits
non-zero, without a result, when the checkout holds no graft sources or
the build fails, and with the JVM's code otherwise (1 when a
correctness check failed).
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = LAUNCH + ".stamp"
WORKLOADS = ("report_full", "report_inc", "upsert_inc")
# A fixed heap, so that peak RSS reads the same from run to run
HEAP = ["-Xms1g", "-Xmx1g"]
RUN_LIMIT_S = 170  # the JVM is stopped after this, whatever it is doing


def build_inputs():
    """Every file the build reads: graft's sources and build, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_and_wait(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(log):
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build per checkout at a time
        return build_locked(log)


def build_locked(log):
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as fh:
        code = run_and_wait(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"], 850,
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCH):
        return False
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print(f"reportbench: no graft sources under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    if not build(os.path.join(OUT, "build.log")):
        print("reportbench: build failed, see reportbench/out/build.log", file=sys.stderr)
        return 2

    with open(LAUNCH) as fh:
        jvm_args = [line for line in fh.read().splitlines() if line]
    work = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *HEAP, f"-Djava.io.tmpdir={tmp}", *jvm_args, "reportbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--out", OUT]
    log = os.path.join(OUT, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "w") as err:
            code = run_and_wait(cmd, RUN_LIMIT_S, cwd=work, stderr=err, stdin=subprocess.DEVNULL,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        print(f"reportbench: run exceeded {RUN_LIMIT_S} s, see {log}", file=sys.stderr)
        return 3
    if code != 0:
        print(f"reportbench: exit {code}, see {log}", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
