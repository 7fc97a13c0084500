"""Metric names, units and the traced run's per-layer assembly.

``END_TO_END`` and ``per_layer_specs()`` are the lists ``BENCHMARK.json``
declares; ``tests/test_stats.py`` keeps the two in step.
"""

from __future__ import annotations

import json
import os
import statistics

import stats
import workloads

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_tail_s": ("s", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
    "rows_per_s": ("rows/s", "higher", 0.25),
    "bytes_per_input_byte": ("ratio", "lower", 0.1),
    "peak_rss_mb": ("MB", "lower", 0.25),
}


def per_layer_specs() -> dict[str, tuple[str, str]]:
    """The per-layer metrics ``BENCHMARK.json`` declares: name -> (unit,
    better). Every traced run reports each of them; a layer the
    workload's ops do not run reports 0."""
    u: dict[str, tuple[str, str]] = {}
    for e in workloads.ENCODINGS:
        u[f"vortex_format.decode_mb_s.{e}"] = ("MB/s", "higher")
        u[f"vortex_format.encode_mb_s.{e}"] = ("MB/s", "higher")
        u[f"vortex_format.bytes_ratio.{e}"] = ("ratio", "lower")
    u["vortex_format.read_footer_s"] = ("s", "lower")
    u["vortex_format.read_chunk_s"] = ("s", "lower")
    for k in ("schema_s", "partitions_s", "read_s"):
        u[f"vortex.{k}"] = ("s", "lower")
    u["vortex.footer_reads_per_query"] = ("count", "lower")
    u["vortex.chunks_considered"] = ("count", "lower")
    u["vortex.chunks_pruned"] = ("count", "higher")
    u["vortex.useful_chunk_frac"] = ("frac", "higher")
    u["vortex.write_s"] = ("s", "lower")
    u["vortex.files_written"] = ("count", "lower")
    for k in ("jobs", "stages", "tasks"):
        u[f"spark.{k}_per_op"] = ("count", "lower")
    u["spark.driver_gap_s_per_op"] = ("s", "lower")
    for k in ("shuffle_read", "shuffle_write", "spill"):
        u[f"spark.{k}_bytes_per_op"] = ("B", "lower")
    u["spark.exec_run_s_per_op"] = ("s", "lower")
    for name in workloads.SCAN_TEMPLATES:
        u[f"op.{name}.s"] = ("s", "lower")
    for s in workloads.STREAM_STAGES:
        u[f"stream.stage_s.{s}"] = ("s", "lower")
    u["stream.jobs_per_batch"] = ("count", "lower")
    u["stream.batch_s_slope"] = ("s/batch", "lower")
    u["stream.compact_s"] = ("s", "lower")
    u["stream.state_files"] = ("count", "lower")
    u["stream.store_bytes"] = ("B", "lower")
    u["session.start_s"] = ("s", "lower")
    u["session.worker_warm_s"] = ("s", "lower")
    u["trace_overhead_frac"] = ("frac", "lower")
    u["failed_frac"] = ("frac", "lower")
    return u


def per_layer_units(wl=None) -> dict[str, str]:
    """Units of the per-layer metrics a run of ``wl`` reports: the
    declared set plus the workload's own extras (only workloads outside
    ``BENCHMARK.json`` have extras)."""
    u = {k: v[0] for k, v in per_layer_specs().items()}
    if wl is not None:
        u.update(wl.extra_units())
    return u


def units(wl=None) -> dict[str, str]:
    return {**{k: v[0] for k, v in END_TO_END.items()}, **per_layer_units(wl)}


def spark_layer(ops) -> dict:
    """Per-op means of the status-store records of each op's job group."""
    keys = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "exec_run_s")
    tot = dict.fromkeys(keys, 0.0)
    gaps = []
    for op in ops:
        for g in stats.aggregate_jobs(op.jobs, op.stages).values():
            for k in keys:
                tot[k] += g[k]
        gaps.append(stats.driver_gap(*op.epoch, [(j["start"], j["end"]) for j in op.jobs]))
    n = max(1, len(ops))
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.shuffle_read_bytes_per_op": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes_per_op": tot["spill_bytes"] / n,
        "spark.exec_run_s_per_op": tot["exec_run_s"] / n,
        "spark.driver_gap_s_per_op": statistics.fmean(gaps) if gaps else 0.0,
    }


def per_layer(ctx, wl, ops, session_start: float, worker_warm: float) -> dict:
    """Every per-layer metric: layers the workload's ops do not run
    report 0."""
    u = per_layer_units(wl)
    out = dict.fromkeys(u, 0.0)
    out["session.start_s"] = session_start
    out["session.worker_warm_s"] = worker_warm
    out.update(spark_layer(ops))
    for name in {op.spec["name"] for op in ops}:
        if f"op.{name}.s" in u:
            out[f"op.{name}.s"] = statistics.fmean(
                [op.wall for op in ops if op.spec["name"] == name])
    extra = wl.layers(ops)
    unknown = set(extra) - set(u)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    out.update(extra)
    return out


def untraced_ops_per_s(path: str) -> float | None:
    """Median ``ops_per_s`` of the untraced runs recorded in this
    checkout, the base ``trace_overhead_frac`` is taken against."""
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        vals = [json.loads(line)["ops_per_s"] for line in fh if line.strip()]
    return statistics.median(vals) if vals else None
