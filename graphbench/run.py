#!/usr/bin/env python3
"""Run one workload of the graph-engine benchmark.

    python3 graphbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Builds the benchmark (the engine sources of this repository plus the
benchmark program under graphbench/src) with sbt when the sources changed since the
last build, then starts one JVM that sets up, runs and checks the
workload. The JVM's last stdout line is the result object.

Everything a run writes stays under graphbench/: the build in target/,
the generated raw tables in target/data/ (they depend only on the scale
factor), per-template diagnostics of traced runs in results/, and a
per-run scratch directory under work/ that is removed when the run ends,
whether it succeeds or not.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main")
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    stamp = os.path.join(TARGET, "build.stamp")
    digest = source_digest()
    outputs = [stamp, os.path.join(TARGET, "runtime.classpath"), os.path.join(TARGET, "jvm.options")]
    if all(os.path.exists(p) for p in outputs) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "writeClasspath"]
    code = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0:
        sys.exit(f"graphbench: build failed (sbt exit {code})")
    with open(stamp, "w") as f:
        f.write(digest)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group. Waits for exit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["read_mix", "traverse", "write_mix"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    args = ap.parse_args()
    # a termination request unwinds like an error: the JVM's process group
    # is killed and waited for, and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"graphbench: engine sources not found at {ENGINE_SRC}; "
                 "run from a checkout of the whole repository")
    build()

    cp = open(os.path.join(TARGET, "runtime.classpath")).read().strip()
    opens = open(os.path.join(TARGET, "jvm.options")).read().split()
    work = os.path.join(HERE, "work", f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graphbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", str(args.sf),
           "--work", work, "--data", os.path.join(TARGET, "data"),
           "--out", os.path.join(HERE, "results")]
    # keep Spark's scratch inside the run's directory even when the
    # environment points it elsewhere
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        code = run_child(cmd, RUN_TIMEOUT_S, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
