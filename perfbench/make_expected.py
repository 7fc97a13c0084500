"""Compute the reference results the benchmark checks against.

Runs the catalog's DuckDB oracle SQL (never the Spark code under test)
over the generated tables and stores one canonical-row digest per
analytics entry, plus the integrated ingest chain's oracle manifest
for the stream workload, in ``expected.json``. The oracles are slow
(pairwise Jaccard over thousands of documents), which is why they run
once here instead of inside every benchmark run. Re-run after changing
``datagen`` or the entry list:

    python3 perfbench/make_expected.py [entry ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")


def connect(sf_dir: str, threads: int):
    from duckdb_vortex_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> None:
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.streaming.incremental_pipeline import INGEST_PIPELINE_ORACLE

    data_root = os.path.join(os.path.dirname(HERE), ".perfbench_work", "data")
    threads = int(os.environ.get("DUCKDB_THREADS", "2"))
    out = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    out["data_version"] = datagen.DATA_VERSION
    entries = out.setdefault("entries", {})
    names = sys.argv[1:] or list(workloads.CATALOG_ENTRIES)
    oracles = catalog.oracle_sql()
    con = connect(datagen.ensure(data_root, workloads.CATALOG_SF), threads)
    for name in names:
        t0 = time.monotonic()
        entries[name] = check.digest(con.execute(oracles[name]).fetch_arrow_table())
        print(f"{name}: {entries[name]['rows']} rows in {time.monotonic() - t0:.1f} s", flush=True)
        json.dump(out, open(EXPECTED, "w"), indent=1, sort_keys=True)
    if not sys.argv[1:]:
        con = connect(datagen.ensure(data_root, workloads.STREAM_SF), threads)
        rows = con.execute(
            f"SELECT doc_id, stage FROM ({INGEST_PIPELINE_ORACLE}) ORDER BY doc_id"
        ).fetchall()
        out["stream_stages"] = [stage for _, stage in rows]
        json.dump(out, open(EXPECTED, "w"), indent=1, sort_keys=True)
        print(f"stream oracle: {len(rows)} docs", flush=True)


if __name__ == "__main__":
    main()
