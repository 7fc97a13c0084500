"""Quantify the cost of the safe-by-default scan decision: with hints
OPT-IN, a user's plain ``spark.read.format("vortex").load(...)`` does
not prune chunks at plan time — every chunk is decoded and Spark's
residual Filter does the row work. This script puts a NUMBER on that
for the worst case the opt-in was designed around: a highly selective predicate
over a large key-sorted dataset (tight non-overlapping zone maps, so
``pushdown=true`` refutes all but O(1) chunks).

Method: build a sorted vortex dataset from sf0.1 lineitem once, then
time the same selective filter n times per mode in ONE session
(fresh ``load()`` per query — the documented safe pattern for the
opt-in), interleaved A/B/A/B so box drift hits both modes equally.

Prints one JSON line: per-mode medians/min/max, scan partitions
planned and chunks decoded per mode (read from the planner's
``trace_file`` event), and the derived default-over-pushdown ratio for
SCALE.md.

Usage: python scripts/measure_default_pruning_cost.py [n] [chunk_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_vortex_spark.catalog import load
from duckdb_vortex_spark.session import get_spark
from duckdb_vortex_spark.sources.vortex import register, write_sorted

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    chunk_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 65536
    spark = get_spark("dvs-pruning-cost")
    register(spark)

    root = tempfile.mkdtemp(prefix="prune_cost_")
    path = os.path.join(root, "lineitem_sorted.vortex")
    li = load(spark, SF_DIR, "lineitem")
    write_sorted(li, path, sort_cols=["l_orderkey"], chunk_rows=chunk_rows)
    n_rows = spark.read.format("vortex").load(path).count()
    lo, hi = 1, 2000  # selective: a few thousand of ~600k orderkeys

    def run(pushdown: bool) -> float:
        r = spark.read.format("vortex")
        if pushdown:
            r = r.option("pushdown", "true")
        df = (
            r.load(path)
            .filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi))
            .agg(
                F.count("*").alias("n"),
                F.sum("l_quantity").alias("q"),
            )
        )
        t0 = time.monotonic()
        df.collect()
        return time.monotonic() - t0

    # warm both paths once (codepath JIT, footer cache, file cache)
    run(False), run(True)
    times: dict[str, list[float]] = {"default": [], "pushdown": []}
    for _ in range(n):  # interleaved A/B
        times["default"].append(run(False))
        times["pushdown"].append(run(True))

    # plan-level evidence: scan partitions planned and surviving chunks
    # decoded per mode, from the planner's "partitions chunks=N tasks=K"
    # trace event
    def plan(pushdown: bool) -> tuple[int, int]:
        log = os.path.join(root, "plan_events.log")
        open(log, "w").close()
        r = spark.read.format("vortex").option("trace_file", log)
        if pushdown:
            r = r.option("pushdown", "true")
        df = r.load(path).filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
        )
        parts = df.select("l_orderkey").rdd.getNumPartitions()
        with open(log) as fh:
            events = [ln.split() for ln in fh if ln.startswith("partitions ")]
        chunks = int(events[-1][1].removeprefix("chunks="))
        return parts, chunks

    out = {
        "sf_dir": SF_DIR,
        "rows": n_rows,
        "chunk_rows": chunk_rows,
        "predicate": f"l_orderkey in [{lo}, {hi}]",
        "n": n,
    }
    for mode, pushdown in (("default", False), ("pushdown", True)):
        out[f"parts_{mode}"], out[f"chunks_{mode}"] = plan(pushdown)
    for mode, ts in times.items():
        out[f"{mode}_median_s"] = round(statistics.median(ts), 3)
        out[f"{mode}_min_s"] = round(min(ts), 3)
        out[f"{mode}_max_s"] = round(max(ts), 3)
    out["default_over_pushdown"] = round(
        out["default_median_s"] / out["pushdown_median_s"], 2
    )
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
