"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each invocation starts the run in a
fresh child process (``harness.py``) with a clean launch environment,
waits for it, stops anything it left behind, and prints the run's result
as the last line of standard output. Everything the run writes stays
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# the first run in a checkout generates the tables; later runs reuse them
FIRST_RUN_DEADLINE_S = 850
DEADLINE_S = 170


def group_pids(pgid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(p))
    return pids


def stop_group(pgid: int) -> None:
    """Wait for the run's process group (the JVM and its Python workers)
    to exit on its own, then terminate what is left, until none is."""
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgid):
            return
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + grace
        while group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def launch_env(scratch: str, max_cpus: int) -> dict:
    env = dict(os.environ)
    cpus = min(max_cpus, len(os.sched_getaffinity(0)))
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="1g",
        # Spark's Python workers import the engine whatever their cwd
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        TMPDIR=os.path.join(scratch, "tmp"),
        PERFBENCH_T0=repr(T0),
        # the whole heap is touched at start, so the JVM's share of
        # peak_rss_mb does not depend on when the collector last ran
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options '-Xms1g -XX:+AlwaysPreTouch' pyspark-shell",
    )
    return env


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "duckdb_vortex_spark", "__init__.py")):
        print(f"perfbench: no duckdb_vortex_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import datagen
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: no workload {a.workload!r}", file=sys.stderr)
        return 2

    first = not os.path.isdir(os.path.join(WORK, "data", f"v{datagen.DATA_VERSION}"))
    # this run's scratch space: private, so runs never share a temp
    # file, and removed when the run ends
    parent = os.path.join(WORK, "scratch")
    os.makedirs(parent, exist_ok=True)
    for pid in os.listdir(parent):
        if not os.path.exists(f"/proc/{pid}"):  # left by a killed run
            shutil.rmtree(os.path.join(parent, pid), ignore_errors=True)
    scratch = os.path.join(parent, str(os.getpid()))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "harness.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", WORK, "--scratch", scratch, "--out", out]
    # the child's output is diagnostics: stdout carries only the result
    env = launch_env(scratch, workloads.WORKLOADS[a.workload].cpus)
    child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                             cwd=os.path.join(scratch, "tmp"), start_new_session=True)
    try:
        rc = child.wait(timeout=FIRST_RUN_DEADLINE_S if first else DEADLINE_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline", file=sys.stderr)
        rc = 124
    finally:
        stop_group(child.pid)
        child.wait()
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
    shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        return rc or 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
