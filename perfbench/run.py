#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout of the repository.

    python3 perfbench/run.py --workload heal|queries --seed N --seconds S --trace 0|1

Builds the engine and the harness with `perfbench/build.py` when their
sources changed since the last build, then runs `perfbench.Main` in one
JVM on Spark `local[n]`, n a quarter of the cores. Everything the run writes goes
under `perfbench/.work/`.
The last line of standard output is the result object; see
`perfbench/README.md` for the workloads and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leaves no __pycache__ behind in the checkout
import build  # noqa: E402  (perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    start_ms = time.time() * 1000.0
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["heal", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", help="write the observed query digests to this file")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/src/main/scala/perfbench"):
        if not os.path.isdir(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the repository ({need} is missing)")
    # a terminated launcher still stops and reaps the compiler (subprocess.run
    # kills it on the exit) and the benchmark JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        java = build.java()
        cp, built = build.build(root)
    except (build.BuildError, OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if built:
        start_ms = time.time() * 1000.0  # a build is not part of set-up

    work = os.path.join(HERE, ".work", "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a quarter of the cores run Spark's tasks: with one task thread the
    # JVM's own threads (JIT compilers, code generation and planning on the
    # client thread, garbage collector) already keep about three cores busy
    cores = max(1, len(os.sched_getaffinity(0)) // 4)
    cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--start-ms", repr(start_ms),
           "--cpus", str(cores)]
    if a.record_expected:
        cmd += ["--record", os.path.abspath(a.record_expected)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark process failed (exit {proc.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
