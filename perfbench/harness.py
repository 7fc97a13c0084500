"""One benchmark run in a fresh process: session, workload set-up, the
timed closed loop, correctness checks, metrics. Started by ``run.py``,
which owns the environment and the process lifetime; the result goes to
the file named by ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


@dataclass
class Op:
    i: int
    spec: dict
    wall: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)
    error: str | None = None
    result: object = None
    ok: bool = False
    jobs: list = field(default_factory=list)
    stages: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    rng: random.Random
    tracer: tracing.Tracer
    work: str
    cache_root: str
    here: str = HERE
    ops: list = field(default_factory=list)

    def data(self, sf: float) -> str:
        return datagen.ensure(os.path.join(self.cache_root, "data"), sf)

    def cached(self, name: str, build) -> str:
        """A directory ``build(path)`` fills once per checkout and engine
        revision; later runs reuse it. Built under a temporary name and
        renamed, so a killed run leaves nothing a later run would trust."""
        final = os.path.join(self.cache_root, f"{name}-{source_rev()}")
        if not os.path.isdir(final):
            tmp = f"{final}.tmp{os.getpid()}"
            build(tmp)
            datagen.publish(tmp, final)
        return final


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def source_rev() -> str:
    """Content hash of the engine's sources: the checkout the benchmark
    runs in is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "duckdb_vortex_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()[:12]


def warm_workers(spark) -> None:
    """Start the Python worker daemon and one worker per core."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(lambda it: it, "id long").count()


def run_loop(ctx: Ctx, wl, seconds: float, traced: bool) -> float:
    """Whole rounds until ``seconds`` of measured time are spent.
    Returns the measured time, the sum of the op walls: status-store
    reads and after-op hooks between ops are not measured."""
    sc = ctx.spark.sparkContext
    measured = 0.0
    for rnd in wl.rounds():
        for spec in rnd:
            op = Op(len(ctx.ops), spec)
            ctx.ops.append(op)
            group = f"perfbench-op{op.i}"
            if traced:
                sc.setJobGroup(group, f"{wl.name} {spec['name']}")
                ctx.tracer.op = op.i
            t0, e0 = time.monotonic(), time.time()
            try:
                with ctx.tracer.span(f"op.{spec['name']}"):
                    op.result = wl.run_op(spec)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not retried
                op.error = f"{type(e).__name__}: {e}"[:500]
            op.wall, op.epoch = time.monotonic() - t0, (e0, time.time())
            measured += op.wall
            if traced:
                ctx.tracer.op = None
                sc.setJobGroup(None, None)
                op.jobs, op.stages = tracing.collect_group(sc, group)
            wl.after_op(op)
        if measured >= seconds:
            break
    return measured


def main() -> int:
    t_launch = float(os.environ.get("PERFBENCH_T0", time.time()))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--scratch", required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    traced = bool(a.trace)
    load_start = os.getloadavg()

    from duckdb_vortex_spark.session import get_spark, quiet_accumulator_noise
    from duckdb_vortex_spark.sources.vortex import register

    run_dir = os.path.join(a.scratch, "run")
    os.makedirs(run_dir)
    os.makedirs(os.path.join(a.work, "records"), exist_ok=True)
    tracer = tracing.Tracer(traced)
    t0 = time.monotonic()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{a.workload}")
    session_start = time.monotonic() - t0
    quiet_accumulator_noise(spark)
    register(spark)
    t0 = time.monotonic()
    with tracer.span("session.worker_warm"):
        warm_workers(spark)
    worker_warm = time.monotonic() - t0

    ctx = Ctx(spark, random.Random(a.seed), tracer, run_dir, a.work)
    wl = workloads.WORKLOADS[a.workload](ctx)
    with tracer.span("setup"):
        wl.setup()
    setup_s = time.time() - t_launch

    measured = run_loop(ctx, wl, a.seconds, traced)
    ops = ctx.ops
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    # read before the checks, which run DuckDB in this process
    rss_kb = {"driver": vm_hwm_kb("self"), "jvm": vm_hwm_kb(jvm_pid)}
    peak_rss_mb = sum(rss_kb.values()) / 1024.0
    t_checks = time.monotonic()
    for op in ops:
        if op.error is None:
            try:
                op.ok = bool(wl.check(op))
                if not op.ok:
                    op.error = "wrong result"
            except Exception as e:  # noqa: BLE001 — a failed check is a failed op
                op.error = f"check raised {type(e).__name__}: {e}"[:500]
    failed = sum(1 for op in ops if not op.ok)
    checks_s = time.monotonic() - t_checks

    t0 = time.monotonic()
    bytes_ratio = wl.bytes_ratio(ops)
    bytes_ratio_s = time.monotonic() - t0
    walls = [op.wall for op in ops]
    tail = stats.tail(walls)
    rates = stats.typical_rates([op.spec["name"] for op in ops], walls,
                                [wl.rows(op) for op in ops])
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": stats.quantile(walls, 0.5),
        "op_tail_s": tail["value"],
        "ops_per_s": rates["ops_per_s"],
        "rows_per_s": rates["rows_per_s"],
        "bytes_per_input_byte": bytes_ratio,
        "peak_rss_mb": peak_rss_mb,
    }
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "rev": source_rev(),
        "nproc": os.cpu_count(),
        "local_n": spark.sparkContext.defaultParallelism,
        "loadavg_start": load_start,
        "ops": len(ops),
        "failed": failed,
        "failed_frac": stats.failed_frac(len(ops), failed),
        "op_tail_q": tail["q"],
        "op_tail_n": tail["n"],
        "measured_s": measured,
        "session_start_s": session_start,
        "worker_warm_s": worker_warm,
        "setup_walls": wl.setup_walls,
        "checks_s": checks_s,
        "bytes_ratio_s": bytes_ratio_s,
        "peak_rss_kb": rss_kb,
        "op_walls": [[op.spec["name"], op.wall] for op in ops],
        "errors": [f"op{op.i} {op.spec['name']}: {op.error}" for op in ops if op.error][:20],
        "e2e": e2e,
    }
    untraced_log = os.path.join(a.work, "records", f"{a.workload}.untraced.jsonl")
    if traced:
        layer = metrics.per_layer(ctx, wl, ops, session_start, worker_warm)
        layer["failed_frac"] = record["failed_frac"]
        base = metrics.untraced_ops_per_s(untraced_log)
        layer["trace_overhead_frac"] = (1 - e2e["ops_per_s"] / base) if base else 0.0
        record["trace_overhead_base_ops_per_s"] = base
        record["spans_file"] = os.path.join(
            a.work, "records", f"{a.workload}-{a.seed}.spans.jsonl")
        tracer.write(record["spans_file"])
        out_metrics = layer
    else:
        out_metrics = e2e
    record["loadavg_end"] = os.getloadavg()
    units = metrics.units(wl)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out_metrics.items()},
    }
    with open(os.path.join(a.work, "records", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    if not traced:
        with open(untraced_log, "a") as fh:
            fh.write(json.dumps({"seed": a.seed, "ops_per_s": e2e["ops_per_s"]}) + "\n")
    print(json.dumps(record), file=sys.stderr, flush=True)
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
        sys.exit(1)
