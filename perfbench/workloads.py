"""The four workloads. Each is a closed loop: one client issuing one op
at a time against one Spark session. The run seed shapes only the op
stream (template parameters, slice bounds, batch boundaries, entry
order); the tables come from ``datagen``.

A workload provides ``setup`` (fixtures and warm-up, counted in
``setup_s``), ``rounds`` (op specs; the harness runs whole rounds until
the run's seconds are spent), ``run_op`` (the timed call), ``check``
(outside the timed region), ``rows``/``bytes_ratio`` for the end-to-end
metrics and ``layers`` for the traced run's per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import check

CATALOG_SF = 0.1
STREAM_SF = 0.01

# catalog entries run by catalog_analytics -> the tables each one reads
CATALOG_ENTRIES = {
    "tpch_q1_pricing_summary": ("lineitem",),
    "tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
    "tpch_q5_local_supplier_volume": (
        "customer", "orders", "lineitem", "supplier", "nation", "region"),
    "tpch_q21_waiting_supplier": ("supplier", "lineitem", "orders", "nation"),
    "similarity_ivf_ann": ("embeddings",),
    "similarity_ivfpq_ann": ("embeddings",),
    "pipeline_corpus_to_shards": ("documents",),
    "events_sessionize_gap": ("events",),
}

CATALOG_WARMUP = "tpch_q1_pricing_summary"

# the encodings the per-layer codec metrics name
ENCODINGS = ("bitpack", "alp", "str_dict", "str_fsst", "list")
STREAM_STAGES = (
    "land_raw", "exact_gate", "neardup_gate", "semantic_gate", "probed_clusters", "manifest",
)
# job description of the chain (``chain b<N>: <label>``) -> stage
STREAM_LABELS = {
    "land raw": "land_raw",
    "land raw (write)": "land_raw",
    "exact gate": "exact_gate",
    "neardup gate": "neardup_gate",
    "lsh store (write)": "neardup_gate",
    "semantic gate": "semantic_gate",
    "ivf store (write)": "semantic_gate",
    "probed clusters": "probed_clusters",
    "manifest": "manifest",
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def vortex_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.vortex"), recursive=True))


def read_back(files: list[str]):
    """Decode whole vortex files in-process (no Spark) into one table."""
    import pyarrow as pa

    from duckdb_vortex_spark.sources import vortex_format as vfmt

    tables = []
    for f in files:
        footer = vfmt.read_footer(f)
        cols = footer.schema.names
        tables += [vfmt.read_chunk(f, footer, i, cols) for i in range(len(footer.chunks))]
    return pa.concat_tables(tables) if tables else None


def codec_replay(files: list[str], max_chunks: int, tracer) -> dict:
    """Time ``decode_column`` and ``encode_column`` per encoding on the
    column chunks of ``files`` (at most ``max_chunks`` chunks, taken
    round-robin so every file contributes), in-process. Returns the
    ``vortex_format.*`` codec metrics: MB/s of Arrow data and encoded
    bytes per Arrow byte."""
    import itertools
    import time

    from duckdb_vortex_spark.sources import vortex_format as vfmt

    acc = {e: [0, 0.0, 0.0, 0] for e in ENCODINGS}  # arrow B, dec s, enc s, enc B
    footers = [(f, vfmt.read_footer(f)) for f in files]
    rounds = itertools.zip_longest(
        *[[(f, ft, i) for i in range(len(ft.chunks))] for f, ft in footers])
    picked = [c for rnd in rounds for c in rnd if c is not None][:max_chunks]
    for f, footer, ci in picked:
        chunk = footer.chunks[ci]
        with open(f, "rb") as fh:
            for name, cd in chunk["columns"].items():
                if cd["enc"] not in acc:
                    continue
                fh.seek(cd["off"])
                buf = fh.read(cd["len"])
                typ = footer.schema.field(name).type
                with tracer.span("vortex_format.decode_column", enc=cd["enc"]):
                    t0 = time.perf_counter()
                    arr = vfmt.decode_column(cd["enc"], cd["meta"], buf, chunk["n_rows"], typ)
                    t1 = time.perf_counter()
                with tracer.span("vortex_format.encode_column", enc=cd["enc"]):
                    cc = vfmt.encode_column(arr)
                    t2 = time.perf_counter()
                a = acc[cd["enc"]]
                a[0] += arr.nbytes
                a[1] += t1 - t0
                a[2] += t2 - t1
                a[3] += len(cc.buf)
    out = {}
    for e, (nb, dec, enc, eb) in acc.items():
        out[f"vortex_format.decode_mb_s.{e}"] = nb / dec / 1e6 if dec else 0.0
        out[f"vortex_format.encode_mb_s.{e}"] = nb / enc / 1e6 if enc else 0.0
        out[f"vortex_format.bytes_ratio.{e}"] = eb / nb if nb else 0.0
    return out


class Workload:
    name = ""
    sf = CATALOG_SF
    # Spark local[N]: at most this many, and never more than the run may use
    cpus = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = ctx.rng
        self.tracer = ctx.tracer
        # named set-up steps -> seconds, for the run record
        self.setup_walls: dict[str, float] = {}

    def duck(self):
        """DuckDB over the run's parquet tables (the reference engine)."""
        import duckdb

        from duckdb_vortex_spark.catalog import TABLES

        if not hasattr(self, "_duck"):
            self._duck = duckdb.connect()
            self._duck.execute("SET threads = 2")
            for t in TABLES:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
        return self._duck

    def table_rows(self, table: str) -> int:
        import pyarrow.parquet as pq

        return pq.read_metadata(f"{self.data}/{table}.parquet").num_rows

    def setup(self) -> None:
        raise NotImplementedError

    def rounds(self):
        raise NotImplementedError

    def run_op(self, spec: dict):
        raise NotImplementedError

    def check(self, op) -> bool:
        raise NotImplementedError

    def rows(self, op) -> int:
        return op.spec.get("rows", 0)

    def bytes_ratio(self, ops) -> float:
        raise NotImplementedError

    def after_op(self, op) -> None:
        """Hook run right after each op, outside the measured time."""

    def extra_units(self) -> dict[str, str]:
        """Per-layer metrics beyond the declared set, reported only by
        workloads that ``BENCHMARK.json`` does not list."""
        return {}

    def layers(self, ops) -> dict:
        return {}


# ---------------------------------------------------------------------------
# vortex_scan
# ---------------------------------------------------------------------------

# An odd number of templates, so a round's median op is one template's
# latency rather than the midpoint of two unlike ones.
SCAN_TEMPLATES = (
    "full_agg", "date_range", "point", "in_list", "narrow", "text_len", "list_elem",
)
# bump when write_fixtures changes, so cached fixtures are rewritten
SCAN_FIXTURES_VERSION = 3
# columns of one encoding (ALP doubles), so the choice does not change the cost
NARROW_COLS = ("l_quantity", "l_discount", "l_tax")
IN_LIST_KEYS = 5
DATE_RANGE_DAYS = 30


class VortexScan(Workload):
    """Fresh ``load()`` with ``pushdown=true`` per op, over fixtures the
    DataSource writer produced during setup."""

    name = "vortex_scan"
    # Three cores: the full scans still decode three chunks at a time, and
    # the fourth core takes the JVM, the driver and the DataSource
    # planner, so a busy neighbour on the machine slows a run less.
    cpus = 3

    def setup(self) -> None:
        self.data = self.ctx.data(self.sf)
        self.fx = self.ctx.cached(f"scan-fixtures-v{SCAN_FIXTURES_VERSION}-sf{self.sf:g}",
                                  self.write_fixtures)
        self.n_rows = {t: self.table_rows(t) for t in ("lineitem", "orders", "documents", "embeddings")}
        self.fixture_disk = dir_bytes(self.fx)
        # one untimed pass over the templates: the first scans in a JVM pay
        # class loading, codegen and the first read of each file
        for t in SCAN_TEMPLATES:
            t0 = time.monotonic()
            self.frame(self.spec(t)).collect()
            self.setup_walls[f"warm.{t}"] = time.monotonic() - t0

    def write_fixtures(self, fx: str) -> None:
        """The scan inputs, written through the DataSource writer: lineitem
        and orders clustered on their dates (``write_sorted``), so date
        ranges prune on zone maps and order keys on blooms."""
        from duckdb_vortex_spark.sources.vortex import write_sorted

        read = self.spark.read.parquet
        with self.tracer.span("vortex.write", table="lineitem"):
            write_sorted(read(f"{self.data}/lineitem.parquet"), f"{fx}/lineitem",
                         ["l_shipdate"], num_files=4)
        with self.tracer.span("vortex.write", table="orders"):
            write_sorted(read(f"{self.data}/orders.parquet"), f"{fx}/orders",
                         ["o_orderdate"], chunk_rows=4096, num_files=4)
        for t in ("documents", "embeddings"):
            with self.tracer.span("vortex.write", table=t):
                read(f"{self.data}/{t}.parquet").write.format("vortex").mode("append").option(
                    "chunk_rows", 2048).save(f"{fx}/{t}")

    def rounds(self):
        while True:
            order = list(SCAN_TEMPLATES)
            self.rng.shuffle(order)
            yield [self.spec(t) for t in order]

    def spec(self, t: str) -> dict:
        r = self.rng
        if t == "full_agg":
            return {"name": t, "table": "lineitem"}
        if t == "date_range":
            start = dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randrange(0, 2400))
            return {"name": t, "table": "lineitem", "lo": start,
                    "hi": start + dt.timedelta(days=DATE_RANGE_DAYS)}
        if t == "point":
            return {"name": t, "table": "orders", "key": r.randrange(0, self.n_rows["orders"])}
        if t == "in_list":
            return {"name": t, "table": "orders",
                    "keys": sorted(r.sample(range(self.n_rows["orders"]), IN_LIST_KEYS))}
        if t == "narrow":
            return {"name": t, "table": "lineitem", "col": r.choice(NARROW_COLS)}
        if t == "text_len":
            return {"name": t, "table": "documents", "min_len": r.randrange(200, 700)}
        return {"name": t, "table": "embeddings", "idx": r.randrange(0, 64)}

    def frame(self, spec: dict):
        from pyspark.sql import functions as F

        df = (self.spark.read.format("vortex").option("pushdown", "true")
              .load(f"{self.fx}/{spec['table']}"))
        t = spec["name"]
        if t == "full_agg":
            return df.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"), F.count(F.lit(1)))
        if t == "date_range":
            return df.filter(
                (F.col("l_shipdate") >= F.lit(spec["lo"]).cast("timestamp_ntz"))
                & (F.col("l_shipdate") < F.lit(spec["hi"]).cast("timestamp_ntz"))
            ).agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), F.count(F.lit(1)))
        if t == "point":
            return df.filter(F.col("o_orderkey") == spec["key"])
        if t == "in_list":
            return df.filter(F.col("o_orderkey").isin(spec["keys"])).agg(
                F.count(F.lit(1)), F.sum("o_totalprice"))
        if t == "narrow":
            c = spec["col"]
            return df.select(c).agg(F.sum(c), F.min(c), F.max(c))
        if t == "text_len":
            return df.filter(F.length("text") > spec["min_len"]).agg(
                F.count(F.lit(1)), F.sum("n_chars"))
        return df.select(F.element_at("embedding", spec["idx"] + 1).alias("x")).agg(
            F.sum("x"), F.count("x"))

    def duck_sql(self, spec: dict) -> str:
        t = spec["name"]
        if t == "full_agg":
            return ("SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
                    "count(*) FROM lineitem GROUP BY ALL")
        if t == "date_range":
            return ("SELECT sum(l_extendedprice * (1 - l_discount)), count(*) FROM lineitem "
                    f"WHERE l_shipdate >= '{spec['lo']}' AND l_shipdate < '{spec['hi']}'")
        if t == "point":
            return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                    f"o_orderpriority FROM orders WHERE o_orderkey = {spec['key']}")
        if t == "in_list":
            keys = ", ".join(map(str, spec["keys"]))
            return f"SELECT count(*), sum(o_totalprice) FROM orders WHERE o_orderkey IN ({keys})"
        if t == "narrow":
            c = spec["col"]
            return f"SELECT sum({c}), min({c}), max({c}) FROM lineitem"
        if t == "text_len":
            return f"SELECT count(*), sum(n_chars) FROM documents WHERE length(text) > {spec['min_len']}"
        return f"SELECT sum(embedding[{spec['idx'] + 1}]), count(embedding[{spec['idx'] + 1}]) FROM embeddings"

    def run_op(self, spec: dict):
        spec["rows"] = self.n_rows[spec["table"]]
        return [tuple(r) for r in self.frame(spec).collect()]

    def check(self, op) -> bool:
        want = self.duck().execute(self.duck_sql(op.spec)).fetchall()
        # float32 list elements are summed in double by both engines,
        # but in a different order
        rel = 1e-6 if op.spec["name"] == "list_elem" else 1e-9
        return check.rows_close(op.result, want, rel=rel)

    def bytes_ratio(self, ops) -> float:
        import stats

        arrow = sum(read_back(vortex_files(f"{self.fx}/{t}")).nbytes for t in self.n_rows)
        return stats.bytes_per_input_byte(self.fixture_disk, arrow)

    # -- traced replay ------------------------------------------------------

    def pushed(self, spec: dict) -> list:
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

        if spec["name"] == "date_range":
            return [GreaterThanOrEqual(("l_shipdate",), spec["lo"]),
                    LessThan(("l_shipdate",), spec["hi"])]
        if spec["name"] == "point":
            return [EqualTo(("o_orderkey",), spec["key"])]
        if spec["name"] == "in_list":
            return [In(("o_orderkey",), tuple(spec["keys"]))]
        return []

    def matches(self, spec: dict, table) -> bool:
        import pyarrow as pa
        import pyarrow.compute as pc

        t = spec["name"]
        if t == "date_range":
            ts = pa.timestamp("us")
            c = table.column("l_shipdate")
            m = pc.and_(pc.greater_equal(c, pa.scalar(spec["lo"], ts)),
                        pc.less(c, pa.scalar(spec["hi"], ts)))
        elif t == "point":
            m = pc.equal(table.column("o_orderkey"), spec["key"])
        elif t == "in_list":
            m = pc.is_in(table.column("o_orderkey"), pa.array(spec["keys"], pa.int64()))
        elif t == "text_len":
            m = pc.greater(pc.utf8_length(table.column("text")), spec["min_len"])
        else:
            return table.num_rows > 0
        return pc.any(m).as_py() is True

    def columns(self, spec: dict) -> list[str]:
        """The columns Spark prunes the template's scan to."""
        if spec["name"] == "narrow":
            return [spec["col"]]
        return {
            "full_agg": ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"],
            "date_range": ["l_shipdate", "l_extendedprice", "l_discount"],
            "point": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                      "o_orderdate", "o_orderpriority"],
            "in_list": ["o_orderkey", "o_totalprice"],
            "text_len": ["text", "n_chars"],
            "list_elem": ["embedding"],
        }[spec["name"]]

    def replay(self, spec: dict, counts: dict) -> None:
        """Re-run one op's scan in-process through the DataSource API, in
        the order Spark drives it, with the format calls spanned."""
        import pyarrow as pa
        from pyspark.sql.types import StructType

        from duckdb_vortex_spark.sources import vortex_format as vfmt
        from duckdb_vortex_spark.sources.vortex import VortexDataSource

        path = f"{self.fx}/{spec['table']}"
        counts["considered"] += sum(len(vfmt.read_footer(f).chunks) for f in vortex_files(path))
        tr = self.tracer
        with tr.span("vortex.op", template=spec["name"]):
            ds = VortexDataSource({"path": path, "pushdown": "true"})
            with tr.span("vortex.schema"):
                schema = ds.schema()
            cols = self.columns(spec)
            with tr.span("vortex.partitions"):
                reader = ds.reader(StructType([f for f in schema.fields if f.name in cols]))
                reader.pushFilters(self.pushed(spec))
                parts = reader.partitions()
            for p in parts:
                with tr.span("vortex.read"):
                    batches = list(reader.read(p))
                counts["read"] += 1
                if batches and self.matches(spec, pa.Table.from_batches(batches)):
                    counts["useful"] += 1

    def layers(self, ops) -> dict:
        import stats

        from duckdb_vortex_spark.sources import vortex_format as vfmt

        tr = self.tracer
        n_footer = []
        undo = [
            tr.wrap(vfmt, "read_footer", "vortex_format.read_footer",
                    lambda rec, a, r: n_footer.append(1)),
            tr.wrap(vfmt, "read_chunk", "vortex_format.read_chunk"),
        ]
        counts = {"considered": 0, "read": 0, "useful": 0}
        first = len(tr.spans)
        replayed = [op for op in ops if op.error is None]
        try:
            for op in replayed:
                tr.op = op.i
                self.replay(op.spec, counts)
        finally:
            for u in undo:
                u()
            tr.op = None
        st = stats.self_time_by_name(tr.spans[first:])
        n = max(1, len(replayed))
        out = {
            "vortex.schema_s": st.get("vortex.schema", 0.0) / n,
            "vortex.partitions_s": st.get("vortex.partitions", 0.0) / n,
            "vortex.read_s": st.get("vortex.read", 0.0) / n,
            "vortex_format.read_footer_s": st.get("vortex_format.read_footer", 0.0) / n,
            "vortex_format.read_chunk_s": st.get("vortex_format.read_chunk", 0.0) / n,
            "vortex.footer_reads_per_query": len(n_footer) / n,
            "vortex.chunks_considered": counts["considered"] / n,
            "vortex.chunks_pruned": (counts["considered"] - counts["read"]) / n,
            "vortex.useful_chunk_frac": counts["useful"] / counts["read"] if counts["read"] else 0.0,
        }
        out.update(codec_replay(vortex_files(self.fx), 24, tr))
        return out


# ---------------------------------------------------------------------------
# vortex_ingest
# ---------------------------------------------------------------------------

INGEST_TABLES = {
    # table -> (slice key, slice width range in key units)
    "lineitem": ("l_orderkey", (15_000, 30_000)),
    "orders": ("o_orderkey", (20_000, 40_000)),
    "documents": ("doc_id", (1_000, 2_000)),
    "embeddings": ("vec_id", (500, 1_000)),
}
LAND_TABLE = "orders"


class VortexIngest(Workload):
    """COPY a seed-chosen key slice of a cached table to a new
    ``.vortex`` dataset per op; the last op of each round instead lands
    a slice as one batch of a growing dataset (``overwrite_batch_atomic``)
    and folds it in (``compact_dataset_incremental``)."""

    name = "vortex_ingest"

    def setup(self) -> None:
        self.data = self.ctx.data(self.sf)
        self.src = {}
        for t in INGEST_TABLES:
            df = self.spark.read.parquet(f"{self.data}/{t}.parquet").cache()
            df.count()
            self.src[t] = df
        self.max_key = {
            t: self.duck().execute(f"SELECT max({k}) + 1 FROM {t}").fetchone()[0]
            for t, (k, _) in INGEST_TABLES.items()
        }
        self.out = os.path.join(self.ctx.work, "ingest")
        self.land = os.path.join(self.out, "landed")
        self.n_ops = 0
        self.batch = 0
        self.landed: list[tuple[int, int]] = []
        # warm the writer once (Python worker, codegen) outside the timed loop
        self.src["embeddings"].limit(10).write.format("vortex").mode("append").save(
            os.path.join(self.ctx.work, "warm"))

    def rounds(self):
        while True:
            order = list(INGEST_TABLES)
            self.rng.shuffle(order)
            yield [self.spec(t, "copy") for t in order] + [self.spec(LAND_TABLE, "land")]

    def spec(self, table: str, kind: str) -> dict:
        key, (lo_w, hi_w) = INGEST_TABLES[table]
        width = self.rng.randrange(lo_w, hi_w)
        lo = self.rng.randrange(0, max(1, self.max_key[table] - width))
        self.n_ops += 1
        return {"name": f"{kind}_{table}", "kind": kind, "table": table, "key": key,
                "lo": lo, "hi": lo + width,
                "dest": os.path.join(self.out, f"op{self.n_ops:04d}-{table}")}

    def slice(self, spec):
        from pyspark.sql import functions as F

        k = F.col(spec["key"])
        return self.src[spec["table"]].filter((k >= spec["lo"]) & (k < spec["hi"]))

    def run_op(self, spec: dict):
        from duckdb_vortex_spark.streaming.sinks import (
            compact_dataset_incremental,
            overwrite_batch_atomic,
        )

        df = self.slice(spec)
        if spec["kind"] == "copy":
            with self.tracer.span("vortex.write"):
                df.write.format("vortex").mode("append").save(spec["dest"])
            return None
        self.batch += 1
        spec["batch"] = self.batch
        with self.tracer.span("stream.land"):
            overwrite_batch_atomic(df, self.land, self.batch, max_files=None)
        with self.tracer.span("stream.compact"):
            compact_dataset_incremental(
                self.spark, self.land, [spec["key"]], before=self.batch + 1)
        self.landed.append((spec["lo"], spec["hi"]))
        # the landed dataset's state after this op; read outside the op's time
        return "landed"

    def expected(self, table: str, key: str, ranges) -> object:
        where = " OR ".join(f"({key} >= {lo} AND {key} < {hi})" for lo, hi in ranges)
        return self.duck().execute(f"SELECT * FROM {table} WHERE {where}").fetch_arrow_table()

    def after_op(self, op) -> None:
        """Capture a land op's visible dataset right after the op: the
        next land op changes it."""
        from duckdb_vortex_spark.streaming.sinks import read_vortex_dataset_tiered

        if op.spec["kind"] != "land" or op.error is not None:
            return
        op.snapshot = check.digest(read_vortex_dataset_tiered(self.spark, self.land).toArrow())
        op.snapshot_ranges = list(self.landed)

    def check(self, op) -> bool:
        spec = op.spec
        if spec["kind"] == "land":
            want = self.expected(spec["table"], spec["key"], op.snapshot_ranges)
            return op.snapshot == check.digest(want)
        got = read_back(vortex_files(spec["dest"]))
        want = self.expected(spec["table"], spec["key"], [(spec["lo"], spec["hi"])])
        if got is None:
            return want.num_rows == 0
        op.arrow_bytes = got.nbytes
        op.spec["rows"] = got.num_rows
        return check.digest(got) == check.digest(want)

    def rows(self, op) -> int:
        if "rows" not in op.spec:
            op.spec["rows"] = self.slice(op.spec).count()
        return op.spec["rows"]

    def bytes_ratio(self, ops) -> float:
        import stats

        copies = [op for op in ops if op.spec["kind"] == "copy" and hasattr(op, "arrow_bytes")]
        return stats.bytes_per_input_byte(
            sum(dir_bytes(op.spec["dest"]) for op in copies),
            sum(op.arrow_bytes for op in copies),
        )

    def extra_units(self) -> dict[str, str]:
        ops = [f"copy_{t}" for t in INGEST_TABLES] + [f"land_{LAND_TABLE}"]
        return {f"op.{name}.s": "s" for name in ops}

    def layers(self, ops) -> dict:
        import stats

        st = stats.self_time_by_name(self.tracer.spans)
        copies = [op for op in ops if op.spec["kind"] == "copy"]
        lands = [op for op in ops if op.spec["kind"] == "land"]
        out = {
            "vortex.write_s": st.get("vortex.write", 0.0) / max(1, len(copies)),
            "vortex.files_written": sum(len(vortex_files(op.spec["dest"])) for op in copies)
            / max(1, len(copies)),
            "stream.compact_s": st.get("stream.compact", 0.0) / max(1, len(lands)),
        }
        out.update(codec_replay(vortex_files(self.out), 24, self.tracer))
        return out


# ---------------------------------------------------------------------------
# catalog_analytics
# ---------------------------------------------------------------------------


class CatalogAnalytics(Workload):
    """One catalog entry per op over parquet, in seed-permuted order.
    No ``.vortex`` byte is touched: the control for format changes."""

    name = "catalog_analytics"

    def setup(self) -> None:
        from duckdb_vortex_spark import catalog

        self.data = self.ctx.data(self.sf)
        self.entries = catalog.entries()
        self.expected = json.load(open(os.path.join(self.ctx.here, "expected.json")))["entries"]
        self.n_rows = {t: self.table_rows(t) for ts in CATALOG_ENTRIES.values() for t in ts}
        # the first query in a JVM pays class loading and codegen once
        self.run_op({"name": CATALOG_WARMUP})

    def rounds(self):
        while True:
            order = list(CATALOG_ENTRIES)
            self.rng.shuffle(order)
            yield [{"name": n, "rows": sum(self.n_rows[t] for t in CATALOG_ENTRIES[n])}
                   for n in order]

    def run_op(self, spec: dict):
        from duckdb_vortex_spark.session import release_persisted

        with self.tracer.span("catalog.build"):
            df = self.entries[spec["name"]].builder(self.spark, self.data)
        try:
            # collect as Arrow: every column of every row is computed (as
            # with the noop sink) and the rows are kept for the check
            with self.tracer.span("catalog.run"):
                return df.toArrow()
        finally:
            release_persisted()

    def check(self, op) -> bool:
        return check.digest(op.result) == self.expected[op.spec["name"]]

    def bytes_ratio(self, ops) -> float:
        """The parquet inputs' bytes per Arrow byte: constant, since this
        workload writes nothing."""
        import pyarrow.parquet as pq

        import stats

        tables = sorted({t for ts in CATALOG_ENTRIES.values() for t in ts})
        disk = sum(os.path.getsize(f"{self.data}/{t}.parquet") for t in tables)
        arrow = sum(pq.read_table(f"{self.data}/{t}.parquet").nbytes for t in tables)
        return stats.bytes_per_input_byte(disk, arrow)

    def extra_units(self) -> dict[str, str]:
        u = {"catalog.build_s": "s", "catalog.run_s": "s"}
        u.update({f"query.{name}.s": "s" for name in CATALOG_ENTRIES})
        u.update({f"family.{self.entries[n].family}.s": "s" for n in CATALOG_ENTRIES})
        return u

    def layers(self, ops) -> dict:
        import statistics

        import stats

        ok = [op for op in ops if op.error is None]
        ok_ids = {op.i for op in ok}
        st = stats.self_time_by_name([s for s in self.tracer.spans if s["op"] in ok_ids])
        n = max(1, len(ok))
        out = {"catalog.build_s": st.get("catalog.build", 0.0) / n,
               "catalog.run_s": st.get("catalog.run", 0.0) / n}
        fam: dict[str, list[float]] = {}
        for name in CATALOG_ENTRIES:
            walls = [op.wall for op in ok if op.spec["name"] == name]
            out[f"query.{name}.s"] = statistics.fmean(walls) if walls else 0.0
            fam.setdefault(self.entries[name].family, []).extend(walls)
        for f, walls in fam.items():
            out[f"family.{f}.s"] = statistics.fmean(walls) if walls else 0.0
        return out


# ---------------------------------------------------------------------------
# curation_stream
# ---------------------------------------------------------------------------

# The first compaction comes before batch 3, past the one round a run of
# BENCHMARK.json's length measures: a compaction costs about as much as a
# batch, and the run budget has no room for it in every run.
STREAM_MAINTAIN_EVERY = 3
# two batch walls per round, so one stalled batch does not set the run's numbers
STREAM_ROUND_BATCHES = 2
STREAM_BATCH_DOCS = (83, 88)


class CurationStream(Workload):
    """The integrated exact -> near-dup -> semantic chain, one
    ``ingest_process_batch`` per op over id-contiguous batches of the
    sf0.01 corpus, with ``compact_chain_stores`` before every
    ``STREAM_MAINTAIN_EVERY``-th batch (as ``incremental_ingest_stream``
    maintains in its sink)."""

    name = "curation_stream"
    sf = STREAM_SF
    # A batch is a chain of small jobs, bound by scheduling rather than
    # by compute: two cores run it as fast as four and leave the rest
    # of the machine to the JVM and the driver, which steadies it.
    cpus = 2

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from duckdb_vortex_spark.catalog import load
        from duckdb_vortex_spark.operators.similarity import sample_centroids

        self.data = self.ctx.data(self.sf)
        self.expected = json.load(open(os.path.join(self.ctx.here, "expected.json")))["stream_stages"]
        docs = load(self.spark, self.data, "documents")
        emb = load(self.spark, self.data, "embeddings")
        self.corpus = docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")), "doc_id"
        ).persist()
        self.n_docs = self.corpus.count()
        self.centroids = sample_centroids(emb, 16).persist()
        self.centroids.count()
        self.root = os.path.join(self.ctx.work, "chain")
        self.next_lo = 0
        self.batch = 1

    def rounds(self):
        """A round is ``STREAM_ROUND_BATCHES`` consecutive batches."""
        rnd = []
        while self.next_lo < self.n_docs:
            lo = self.next_lo
            hi = min(self.n_docs, lo + self.rng.randrange(*STREAM_BATCH_DOCS))
            rnd.append({"name": "batch", "batch": self.batch, "lo": lo, "hi": hi, "rows": hi - lo})
            self.next_lo, self.batch = hi, self.batch + 1
            if len(rnd) == STREAM_ROUND_BATCHES:
                yield rnd
                rnd = []
        if rnd:
            yield rnd

    def run_op(self, spec: dict):
        from pyspark.sql import functions as F

        from duckdb_vortex_spark.streaming.incremental_pipeline import (
            compact_chain_stores,
            ingest_process_batch,
        )

        b = spec["batch"]
        if b % STREAM_MAINTAIN_EVERY == 0:
            with self.tracer.span("stream.compact"):
                compact_chain_stores(self.spark, self.root, before=b)
        batch = self.corpus.filter((F.col("doc_id") >= spec["lo"]) & (F.col("doc_id") < spec["hi"]))
        with self.tracer.span("stream.batch"):
            ingest_process_batch(batch, b, self.centroids, self.root)

    def check(self, op) -> bool:
        man = os.path.join(self.root, "man", f"batch-{op.spec['batch']:08d}")
        got = read_back(vortex_files(man))
        if got is None:
            return False
        stages = dict(zip(got.column("doc_id").to_pylist(), got.column("stage").to_pylist()))
        want = {d: self.expected[d] for d in range(op.spec["lo"], op.spec["hi"])}
        return got.num_rows == len(want) and stages == want

    def stores(self) -> list[str]:
        return [os.path.join(self.root, s) for s in ("raw", "lsh", "ivf", "man")]

    def bytes_ratio(self, ops) -> float:
        import stats

        files = [f for s in self.stores() for f in vortex_files(s)]
        table_bytes = sum(read_back([f]).nbytes for f in files)
        return stats.bytes_per_input_byte(sum(os.path.getsize(f) for f in files), table_bytes)

    def layers(self, ops) -> dict:
        import stats

        st = stats.self_time_by_name(self.tracer.spans)
        out = {f"stream.stage_s.{s}": 0.0 for s in STREAM_STAGES}
        n = max(1, len(ops))
        jobs = 0
        for op in ops:
            per_stage: dict[str, list] = {}
            for j in op.jobs:
                label = str(j["description"]).split(": ", 1)[-1]
                stage = STREAM_LABELS.get(label)
                if stage is not None:
                    per_stage.setdefault(stage, []).append((j["start"], j["end"]))
                jobs += 1
            for s, iv in per_stage.items():
                out[f"stream.stage_s.{s}"] += stats.union_length(iv) / n
        writes = [
            stats.union_length([(j["start"], j["end"]) for j in op.jobs
                                if str(j["description"]).endswith("(write)")])
            for op in ops
        ]
        n_compact = sum(1 for s in self.tracer.spans if s["name"] == "stream.compact")
        state = [s for s in self.stores() if not s.endswith("man")]
        batch_files = [
            len(vortex_files(d)) for s in self.stores()
            for d in glob.glob(os.path.join(s, "batch-*"))
        ]
        out.update({
            "stream.jobs_per_batch": jobs / n,
            "stream.batch_s_slope": stats.slope([op.spec["batch"] for op in ops],
                                                [op.wall for op in ops]),
            "stream.compact_s": st.get("stream.compact", 0.0) / n_compact if n_compact else 0.0,
            "stream.state_files": sum(len(vortex_files(s)) for s in state),
            "stream.store_bytes": sum(dir_bytes(s) for s in state),
            "vortex.write_s": sum(writes) / n,
            "vortex.files_written": sum(batch_files) / n,
        })
        out.update(codec_replay([f for s in self.stores() for f in vortex_files(s)], 24, self.tracer))
        return out


WORKLOADS = {
    w.name: w for w in (VortexScan, VortexIngest, CatalogAnalytics, CurationStream)
}
