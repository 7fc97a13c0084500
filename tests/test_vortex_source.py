"""Vortex DataSource tests — mirrors the reference's own sqllogictest
suite (SURVEY.md §5): round-trip golden tests per type matrix
(table.test), null round trip (nulls.test), timestamp normalization +
filter pushdown (timestamp.test), multi-batch scale tier
(table.test_slow), plus glob / pruning / overwrite behaviors."""

from __future__ import annotations

import datetime
import decimal
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_vortex_spark.session import default_cpus
from duckdb_vortex_spark.sources.vortex import (
    VortexReader,
    register,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _typed_matrix(spark, n: int):
    """FIXTURES.md F1 — the reference's full-type-matrix generator
    (/root/reference/test/sql/table.test:30-50)."""
    seq = F.col("id") + 1
    return spark.range(n).select(
        seq.alias("id_col"),
        ((seq % 2) == 0).alias("bool_col"),
        ((seq % 256) - 128).cast("tinyint").alias("tinyint_col"),
        ((seq % 65536) - 32768).cast("smallint").alias("smallint_col"),
        seq.cast("int").alias("int_col"),
        (seq * 10).cast("bigint").alias("bigint_col"),
        (seq * 10).cast("decimal(20,0)").alias("ubigint_col"),
        (seq.cast("float") / 100.0).alias("float_col"),
        (seq.cast("double") / 1000.0).alias("double_col"),
        (seq.cast("decimal(10,2)") / 10.0).cast("decimal(10,2)").alias("decimal_col"),
        F.concat(F.lit("Value "), seq.cast("string")).alias("varchar_col"),
        F.date_add(F.lit("1992-03-22").cast("date"), seq.cast("int")).alias("date_col"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(secs=seq.cast("double"))
        ).alias("timestamp_col"),
        F.unbase64(F.base64(F.encode(seq.cast("string"), "UTF-8"))).alias("blob_col"),
    )


def test_roundtrip_typed_matrix_quick(spark, tmp_path):
    df = _typed_matrix(spark, 100)
    path = str(tmp_path / "typed.vortex")
    df.write.format("vortex").mode("append").save(path)
    back = spark.read.format("vortex").load(path)
    # all-nullable on read (Spark parquet-source convention); names and
    # types must round-trip exactly
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_roundtrip_many_chunks_40k(spark, tmp_path):
    """table.test_slow parity: 40,000 rows, many batches; also A8 —
    every row group of a chunked file is a pruning unit, and the scan
    packs them into one partition per core."""
    df = _typed_matrix(spark, 40000)
    path = str(tmp_path / "typed40k.vortex")
    df.coalesce(1).write.format("vortex").mode("append").option("chunk_rows", 4096).save(path)
    back = spark.read.format("vortex").load(path)
    assert back.count() == 40000
    assert back.agg(F.sum("bigint_col")).collect()[0][0] == sum(
        (i + 1) * 10 for i in range(40000)
    )
    reader = VortexReader({"path": path}, back.schema)
    assert len(reader.surviving_chunks()) == 40000 // 4096 + 1
    assert len(reader.partitions()) == min(40000 // 4096 + 1, default_cpus())


def test_roundtrip_nulls(spark, tmp_path):
    """FIXTURES.md F2 — nulls.test parity: all-null prefix + typed
    decimal/bigint columns through write/read."""
    rows = [(s, None, None) if s < 5 else (s, decimal.Decimal(s), s + 1) for s in range(9)]
    schema = T.StructType(
        [
            T.StructField("s", T.LongType()),
            T.StructField("s1", T.DecimalType(15, 2)),
            T.StructField("s2", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "nulls.vortex")
    df.write.format("vortex").mode("append").save(path)
    back = spark.read.format("vortex").load(path).orderBy("s").collect()
    assert [tuple(r) for r in back] == [
        (0, None, None), (1, None, None), (2, None, None), (3, None, None),
        (4, None, None),
        (5, decimal.Decimal("5.00"), 6), (6, decimal.Decimal("6.00"), 7),
        (7, decimal.Decimal("7.00"), 8), (8, decimal.Decimal("8.00"), 9),
    ]


def test_timestamp_filter_pushdown(spark, tmp_path):
    """timestamp.test:39-48 parity: predicate on a timestamp column
    returns 50 of 100 rows; chunk pruning skips refuted row groups."""
    df = spark.range(1, 101).select(
        F.col("id"),
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("ts"),
    )
    path = str(tmp_path / "ts.vortex")
    df.coalesce(1).write.format("vortex").mode("append").option("chunk_rows", 10).save(path)
    back = spark.read.format("vortex").load(path)
    cutoff = "2025-01-01 00:00:50"
    n = back.filter(F.col("ts") > F.lit(cutoff).cast("timestamp_ntz")).count()
    assert n == 50

    # chunk-level zone-map pruning: 10-row chunks, ts sorted → only
    # chunks overlapping (00:00:50, ...] survive
    reader = VortexReader({"path": path}, back.select("id").schema)
    from pyspark.sql.datasource import GreaterThan

    reader.pushed = [GreaterThan(("ts",), datetime.datetime(2025, 1, 1, 0, 0, 50))]
    survived = reader.surviving_chunks()
    assert len(survived) == 5  # 5 of 10 chunks pruned


def test_projection_pushdown_schema(spark, tmp_path):
    """A5: reading a projection only decodes requested columns."""
    df = _typed_matrix(spark, 50)
    path = str(tmp_path / "proj.vortex")
    df.write.format("vortex").mode("append").save(path)
    back = spark.read.format("vortex").load(path).select("varchar_col")
    assert back.columns == ["varchar_col"]
    assert back.count() == 50


def test_glob_read(spark, tmp_path):
    """A2: glob patterns expand to multiple files."""
    a = spark.range(10).select(F.col("id").alias("v"))
    b = spark.range(10, 30).select(F.col("id").alias("v"))
    a.write.format("vortex").mode("append").save(str(tmp_path / "g1.vortex"))
    b.write.format("vortex").mode("append").save(str(tmp_path / "g2.vortex"))
    back = spark.read.format("vortex").load(str(tmp_path / "g*.vortex"))
    assert back.count() == 30
    assert back.agg(F.sum("v")).collect()[0][0] == sum(range(30))


def test_overwrite_mode(spark, tmp_path):
    path = str(tmp_path / "ow.vortex")
    spark.range(100).write.format("vortex").mode("append").save(path)
    spark.range(7).write.format("vortex").mode("overwrite").save(path)
    assert spark.read.format("vortex").load(path).count() == 7


def test_write_from_query_copy_to_parity(spark, tmp_path):
    """sequence.test:9-21 parity: COPY (query) TO file, read back,
    identical results — via an arbitrary UNION query like nulls.test."""
    q = spark.sql(
        """
        SELECT id AS s, CAST(NULL AS DOUBLE) AS v FROM range(5)
        UNION ALL
        SELECT id AS s, CAST(id AS DOUBLE) / 2 AS v FROM range(5, 9)
        """
    )
    path = str(tmp_path / "copy.vortex")
    q.write.format("vortex").mode("append").save(path)
    back = spark.read.format("vortex").load(path)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in q.collect()}


def test_missing_path_errors(spark):
    with pytest.raises(Exception) as ei:
        spark.read.format("vortex").load("/nonexistent/nowhere.vortex").count()
    assert "no files" in str(ei.value) or "cannot bind" in str(ei.value)


def test_sorted_write_tightens_zone_maps(spark, tmp_path):
    """A7: clustering on the filter column makes chunk pruning
    effective — a range predicate keeps only the chunks whose key
    range overlaps, vs ~all chunks on an unsorted layout."""
    from pyspark.sql.datasource import GreaterThan

    from duckdb_vortex_spark.sources.vortex import write_sorted

    df = spark.range(10000).select(
        F.shiftright((F.col("id") * 2654435761) % (2**31), 0).alias("k")
    )
    unsorted_path = str(tmp_path / "unsorted.vortex")
    sorted_path = str(tmp_path / "sorted.vortex")
    df.coalesce(4).write.format("vortex").mode("append").option("chunk_rows", 500).save(
        unsorted_path
    )
    write_sorted(df.coalesce(4), sorted_path, ["k"], chunk_rows=500)

    cutoff = df.approxQuantile("k", [0.95], 0.001)[0]
    pushed = [GreaterThan(("k",), int(cutoff))]

    def surviving(path):
        r = VortexReader({"path": path}, spark.read.format("vortex").load(path).schema)
        r.pushed = pushed
        return len(r.surviving_chunks())

    n_unsorted, n_sorted = surviving(unsorted_path), surviving(sorted_path)
    assert n_sorted <= n_unsorted // 4, (n_sorted, n_unsorted)
    # correctness unaffected by layout
    a = spark.read.format("vortex").load(sorted_path).filter(F.col("k") > int(cutoff)).count()
    b = df.filter(F.col("k") > int(cutoff)).count()
    assert a == b


def test_schema_drift_fails_at_bind(spark, tmp_path):
    """A TYPE conflict on a shared column errors loudly at bind time,
    not at scan (additive column drift is legal — see
    test_schema_evolution_additive)."""
    spark.range(5).select(F.col("id").alias("v")).write.format("vortex").mode(
        "append"
    ).save(str(tmp_path / "d1.vortex"))
    spark.range(5).select(F.col("id").cast("string").alias("v")).write.format(
        "vortex"
    ).mode("append").save(str(tmp_path / "d2.vortex"))
    with pytest.raises(Exception) as ei:
        spark.read.format("vortex").load(str(tmp_path / "d*.vortex")).count()
    assert "type conflict" in str(ei.value)


def test_in_and_prefix_pushdown(spark, tmp_path):
    """In-list and prefix filters are pushed (A6) and prune chunks via
    zone maps (A7) when the file is sorted on the filter column."""
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.sources.vortex import register, write_sorted

    from .conftest import SF_DIR

    register(spark)
    n = catalog.load(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_sorted.vortex")
    write_sorted(n, path, sort_cols=["n_name"], chunk_rows=5)

    got = spark.read.format("vortex").load(path).filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    assert sorted(r.n_name for r in got.collect()) == ["NATION_3", "NATION_7"]

    pref = spark.read.format("vortex").load(path).filter(F.col("n_name").startswith("NATION_1"))
    names = sorted(r.n_name for r in pref.collect())
    assert names == sorted(f"NATION_1{s}" for s in [""] + list("0123456789"))


def test_roundtrip_nested_array_struct_map(spark, tmp_path):
    """Stretch parity (SURVEY §1.2 nested row): ARRAY / STRUCT / MAP
    columns round-trip value-exact through the vortex source. The
    reference's pinned surface is flat; the Vortex format itself has
    struct/list layouts, so the Spark source supports them outright.
    Schema equality is modulo nullability (footer marks all nullable).
    """
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.sources.vortex import register

    from .conftest import SF_DIR

    register(spark)
    emb = catalog.load(spark, SF_DIR, "embeddings")
    nested = emb.select(
        "vec_id",
        "embedding",
        F.struct("label", F.size("embedding").alias("dim")).alias("meta"),
        F.create_map(F.lit("label"), F.col("label").cast("string")).alias("tags"),
    )
    path = str(tmp_path / "nested.vortex")
    nested.write.format("vortex").mode("append").save(path)
    back = spark.read.format("vortex").load(path)

    def canon(df):
        return sorted(
            (r.vec_id, tuple(r.embedding), tuple(r.meta), tuple(sorted(r.tags.items())))
            for r in df.collect()
        )

    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in nested.schema.fields
    ]
    assert canon(back) == canon(nested)


def test_partitioned_write_layout_and_dir_pruning(spark, tmp_path):
    """Hive-partitioned dataset: col=value dirs on disk, equality/IN
    predicates prune whole directories before any footer is read, and
    results match an unpartitioned scan exactly."""
    from duckdb_vortex_spark import catalog
    from duckdb_vortex_spark.sources.vortex import write_partitioned

    from .conftest import SF_DIR

    ev = catalog.load(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "events_part.vortex")
    write_partitioned(ev, path, ["event_type"], chunk_rows=512)

    import glob as g

    subdirs = sorted(os.path.basename(d) for d in g.glob(str(tmp_path / "events_part.vortex/*")))
    types = sorted(r.event_type for r in ev.select("event_type").distinct().collect())
    assert subdirs == [f"event_type={t}" for t in types]

    back = spark.read.format("vortex").load(path)
    assert back.count() == ev.count()
    pick = types[0]
    got = back.filter(F.col("event_type") == pick)
    want = ev.filter(F.col("event_type") == pick)
    assert got.count() == want.count()
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.collect()
    )

    # pruning: with the equality pushed, only the matching dir's files
    # contribute chunks to the scan
    from pyspark.sql.datasource import EqualTo, In

    reader = VortexReader({"path": path}, back.schema)
    n_all = len(reader.surviving_chunks())
    reader.pushed = [EqualTo(("event_type",), pick)]
    pruned = reader.surviving_chunks()
    assert 0 < len(pruned) < n_all
    assert all(f"event_type={pick}" in c.file for c in pruned)

    reader2 = VortexReader({"path": path}, back.schema)
    reader2.pushed = [In(("event_type",), (types[0], types[1]))]
    pruned2 = reader2.surviving_chunks()
    assert {d for c in pruned2 for d in c.file.split(os.sep) if d.startswith("event_type=")} == {
        f"event_type={types[0]}", f"event_type={types[1]}"
    }


def test_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution: a later file adds a column; rows
    from older files read it as NULL, pushed filters on the evolved
    column work on old files, and a type conflict fails at bind."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving.vortex")
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string") \
        .write.format("vortex").mode("append").save(path)
    spark.createDataFrame(
        [(3, "c", 30.5), (4, "d", 40.5)], "id bigint, name string, score double"
    ).write.format("vortex").mode("append").save(path)

    back = spark.read.format("vortex").load(path)
    assert [f.name for f in back.schema.fields] == ["id", "name", "score"]
    rows = {r["id"]: (r["name"], r["score"]) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 30.5), 4: ("d", 40.5)}

    # filter on the evolved column: old files contribute nothing, new
    # files filter normally (predicate runs after the null fill)
    got = sorted(r["id"] for r in back.filter(F.col("score") > 35).collect())
    assert got == [4]
    # IS NULL selects exactly the pre-evolution rows
    got = sorted(r["id"] for r in back.filter(F.col("score").isNull()).collect())
    assert got == [1, 2]

    # projection of ONLY the evolved column: old files must still
    # contribute one NULL row each (regression: a 0-column pruned read
    # used to report 0 rows and silently drop them). Fresh load()
    # keeps the shapes independent (default scans are also reuse-safe
    # since r8 — see test_relation_reuse_default_safe).
    fresh = spark.read.format("vortex").load(path)
    scores = [r["score"] for r in fresh.select("score").collect()]
    assert sorted((s is None, s or 0.0) for s in scores) == [
        (False, 30.5), (False, 40.5), (True, 0.0), (True, 0.0)
    ]
    assert fresh.select("score").count() == 4

    # type conflict on a shared column still fails loudly at bind
    bad = str(tmp_path / "conflict.vortex")
    spark.createDataFrame([(1,)], "x bigint").write.format("vortex").mode("append").save(bad)
    spark.createDataFrame([("s",)], "x string").write.format("vortex").mode("append").save(bad)
    with pytest.raises(Exception, match="type conflict"):
        spark.read.format("vortex").load(bad).collect()


def test_packed_partition_spans_evolved_files_in_order(spark, tmp_path):
    """A scan task packed across an old file and a file that added a
    column reads each file's chunks with that file's footer, fills the
    missing column with nulls, and keeps row order: ``collect()`` equals
    a parquet twin of the same rows row for row."""
    from duckdb_vortex_spark.sources import vortex_format as vfmt
    from duckdb_vortex_spark.sources.vortex import _expand

    path = str(tmp_path / "evolving_packed.vortex")
    # more new-file chunks than cores, so the first task must take the
    # old file's tiny chunks and the head of the new file
    n_new = 4 * (default_cpus() + 1)
    spark.range(0, 8).selectExpr("id", "concat('old', id) AS name").coalesce(1) \
        .write.format("vortex").option("chunk_rows", 4).mode("append").save(path)
    spark.range(100, 100 + 50 * n_new).selectExpr(
        "id", "concat('new', id) AS name", "CAST(id AS DOUBLE) / 2 AS score"
    ).coalesce(1).write.format("vortex").option("chunk_rows", 50).mode("append").save(path)

    back = spark.read.format("vortex").load(path)
    tasks = VortexReader({"path": path}, back.schema).partitions()
    files = [{c.file for c in t.chunks} for t in tasks]
    assert any(len(fs) == 2 for fs in files), files  # one task spans both files

    old_first = "score" not in vfmt.read_footer(_expand(path)[0]).schema.names
    old = [(i, f"old{i}", None) for i in range(8)]
    new = [(i, f"new{i}", i * 0.5) for i in range(100, 100 + 50 * n_new)]
    twin = str(tmp_path / "twin_parquet")
    spark.createDataFrame(
        old + new if old_first else new + old, "id bigint, name string, score double"
    ).coalesce(1).write.parquet(twin)
    want = [tuple(r) for r in spark.read.parquet(twin).collect()]
    assert [tuple(r) for r in back.collect()] == want


def test_dataset_stats_footer_only(spark, tmp_path):
    """Footer-only statistics agree with the actual data and expose
    per-column encodings."""
    from duckdb_vortex_spark.sources.vortex import dataset_stats, register

    register(spark)
    path = str(tmp_path / "stats.vortex")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.concat(F.lit("s"), F.col("id"))).alias("s"),
    )
    df.coalesce(2).write.format("vortex").mode("append").save(path)

    st = dataset_stats(spark, path).collect()  # one row per (file, column)
    assert {r["column"] for r in st} == {"k", "v", "s"}
    assert len({r["file"] for r in st}) == 2
    k_rows = [r for r in st if r["column"] == "k"]
    assert min(int(r["min"]) for r in k_rows) == 0
    assert max(int(r["max"]) for r in k_rows) == 999
    assert sum(r["null_count"] for r in k_rows) == 0
    assert sum(r["null_count"] for r in st if r["column"] == "s") == 100
    assert sum(r["n_rows"] for r in k_rows) == 1000
    assert all(r["encodings"] for r in st)


def test_relation_reuse_default_safe(spark, tmp_path):
    """r8: relation reuse is correct BY DEFAULT — no option needed.

    Upstream Spark 4.1 keeps one mutable readInfo slot per Python-
    DataSource relation; a filtered action overwrites it with that
    plan's scan and a later action with no pushable filters on the
    SAME DataFrame variable replays it wholesale, with NO Python hook
    running (traced: no __init__ / pushFilters / partitions call —
    see pushFilters docstring). With r7's default-on hints, that
    replay served the filtered plan's PRUNED chunk list to an
    unfiltered count. r8 makes the default scan filter-independent
    (hints opt-in), so the stale-slot replay is indistinguishable
    from a fresh plan and every reuse pattern is exact."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "reuse.vortex")
    # multi-chunk + key-sorted layout = the hazard layout: zone maps
    # would refute chunks if hints were recorded
    spark.range(10).select(F.col("id").alias("k")).coalesce(1).write.format(
        "vortex"
    ).option("chunk_rows", "2").mode("append").save(path)

    # ONE loaded relation, reused across differently-filtered actions
    v = spark.read.format("vortex").load(path)
    assert v.filter(F.col("k") > 7).count() == 2
    assert v.count() == 10  # r7 default returned 2 here (stale pruned scan)
    assert sorted(r["k"] for r in v.filter(F.col("k") < 2).collect()) == [0, 1]
    assert v.count() == 10

    # fresh relation per query is correct in every mode
    assert spark.read.format("vortex").load(path).filter(F.col("k") > 7).count() == 2
    assert spark.read.format("vortex").load(path).count() == 10


def test_pushdown_opt_in_caveat_sentinel(spark, tmp_path):
    """The OPT-IN mode's documented caveat, pinned as a sentinel: with
    `.option("pushdown", "true")`, an unfiltered action reusing a
    relation after a filtered action replays the filtered plan's
    pruned chunk list (upstream single-slot readInfo cache; no Python
    hook fires, so the reader cannot defend itself). Fresh load() per
    query — the pattern every catalog entry uses — is always exact.

    If the unfiltered count ever starts returning 10 here, the
    upstream cache got fixed: flip the reader's default back to
    hints-on and delete this sentinel."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "optin.vortex")
    spark.range(10).select(F.col("id").alias("k")).coalesce(1).write.format(
        "vortex"
    ).option("chunk_rows", "2").mode("append").save(path)

    fast = spark.read.format("vortex").option("pushdown", "true").load(path)
    assert fast.filter(F.col("k") > 7).count() == 2
    assert fast.count() in (2, 10)  # 2 today (stale pruned scan) — see above

    # opt-in + fresh relation per action: exact AND pruned
    fresh = spark.read.format("vortex").option("pushdown", "true").load(path)
    assert fresh.count() == 10


def test_upstream_fresh_readinfo_canary(spark, tmp_path):
    """TRACE-BASED upstream canary (VERDICT r8 #4): the structural
    precondition for flipping the reader's default back to hints-on is
    that upstream Spark plans each differently-filtered branch of a
    reused relation FRESHLY (a fresh ``readInfo`` per plan) instead of
    replaying one mutable cached slot. Today the hazardous branch — an
    unfiltered action after a filtered one on the SAME relation —
    invokes NO Python hook at all (no __init__ / pushFilters /
    partitions; the JVM replays the cached partition list wholesale),
    which is exactly why no Python-side defence exists and why default
    scans must be filter-independent (sources/vortex.py pushFilters
    docstring).

    This test pins that structure via the reader's trace hook. THE DAY
    IT FAILS: upstream now re-plans per branch — flip the default
    (``pushdown_enabled`` in VortexReader.__init__) back to on, delete
    this canary and test_pushdown_opt_in_caveat_sentinel, and re-run
    test_relation_reuse_default_safe / test_filtered_fanout_matches_
    parquet to confirm reuse stays exact with hints recorded."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "canary.vortex")
    spark.range(10).select(F.col("id").alias("k")).coalesce(1).write.format(
        "vortex"
    ).option("chunk_rows", "2").mode("append").save(path)

    tf = tmp_path / "plan_events.log"
    tf.write_text("")
    v = (
        spark.read.format("vortex")
        .option("pushdown", "true")
        .option("trace_file", str(tf))
        .load(path)
    )
    assert v.filter(F.col("k") > 7).count() == 2
    # premise: planning the filtered action DID run Python hooks (the
    # trace plumbing works in this environment)
    assert "partitions" in tf.read_text(), "trace plumbing broken — canary void"

    tf.write_text("")
    v.count()  # unfiltered reuse of the same relation
    events = tf.read_text()
    assert events == "", (
        "UPSTREAM BEHAVIOR CHANGED: the unfiltered reuse branch now "
        f"re-plans through Python ({events.splitlines()!r}). Spark "
        "appears to give each branch a fresh readInfo — re-evaluate "
        "flipping the vortex reader's default back to hints-on "
        "(pruning by default); see this test's docstring for the "
        "checklist."
    )


def test_filtered_fanout_matches_parquet(spark, tmp_path):
    """r8 'done' check (VERDICT r7 #1): a differently-filtered fan-out
    of a SINGLE load() returns byte-identical results to parquet with
    NO option — on the hazard layout (multi-chunk file SORTED on the
    filter column, where zone maps would refute whole chunks for the
    other branch if hints were recorded)."""
    from pyspark.sql import functions as F

    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 3 % 7).alias("v"),
    )
    vpath = str(tmp_path / "fan.vortex")
    from duckdb_vortex_spark.sources.vortex import write_sorted

    write_sorted(df, vpath, sort_cols=["k"], chunk_rows=50)
    ppath = str(tmp_path / "fan_parquet")
    df.write.parquet(ppath)

    v = spark.read.format("vortex").load(vpath)
    pq = spark.read.parquet(ppath)

    def fanout(t):
        lo = t.filter(F.col("k") < 100)          # zone maps refute chunks 2..7
        hi = t.filter(F.col("k") >= 300)         # zone maps refute chunks 0..5
        mid = t.filter(F.col("k").between(150, 249))
        joined = (
            lo.select("grp", F.col("k").alias("k_lo"))
            .join(hi.select("grp", F.col("k").alias("k_hi")), "grp")
            .select("grp", "k_lo", "k_hi")
        )
        return (
            sorted(map(tuple, lo.unionByName(hi).unionByName(mid).collect())),
            sorted(map(tuple, joined.collect())),
            t.count(),
        )

    assert fanout(v) == fanout(pq)


def test_zorder_write_prunes_on_second_dimension(spark, tmp_path):
    """A7 layout test: a Morton-curve (Z-order) clustered write makes
    zone maps selective on EVERY z-ordered column, where a single-col
    sort is selective only on its sort key. Same 40-chunk dataset,
    same pushed range predicate on the SECOND column: the sorted-by-a
    layout keeps ~all chunks (b spans the full range in each), the
    z-ordered layout prunes most of them from footer min/max alone."""
    from pyspark.sql.datasource import GreaterThan, LessThan

    from duckdb_vortex_spark.sources.vortex import write_sorted, write_zordered

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("a"),
        ((F.col("id") * 7919) % 200).alias("b"),
        F.col("id").alias("payload"),
    )
    p_sorted = str(tmp_path / "sorted.vortex")
    p_zorder = str(tmp_path / "zorder.vortex")
    write_sorted(df, p_sorted, sort_cols=["a"], chunk_rows=1000)
    write_zordered(df, p_zorder, zorder_cols=["a", "b"], chunk_rows=1000)

    schema = spark.read.format("vortex").load(p_zorder).schema
    pushed = [GreaterThan(("b",), 150), LessThan(("b",), 160)]

    def surviving(path):
        r = VortexReader({"path": path}, schema)
        r.pushed = list(pushed)
        return len(r.surviving_chunks())

    n_sorted, n_zorder = surviving(p_sorted), surviving(p_zorder)
    assert n_zorder < n_sorted, (n_zorder, n_sorted)
    assert n_zorder <= 20  # most of the ~40 chunks pruned

    # both layouts return identical filtered results
    q = lambda p: (  # noqa: E731
        spark.read.format("vortex").load(p)
        .filter((F.col("b") > 150) & (F.col("b") < 160))
        .agg(F.count("*").alias("n"), F.sum("payload").alias("s"))
        .collect()[0]
    )
    assert q(p_sorted) == q(p_zorder)


def test_sorted_low_cardinality_uses_ree(spark, tmp_path):
    """write_sorted on a low-cardinality int key → run-heavy chunks →
    the footer records run-end encoding for that column."""
    from duckdb_vortex_spark.sources import vortex_format as vfmt
    from duckdb_vortex_spark.sources.vortex import _expand, write_sorted

    df = spark.range(20_000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "ree.vortex")
    write_sorted(df, path, sort_cols=["k"], chunk_rows=2000)
    encs = set()
    for f in _expand(path):
        ft = vfmt.read_footer(f)
        for ch in ft.chunks:
            encs.add(ch["columns"]["k"]["enc"])
    assert "ree" in encs, encs
    got = (
        spark.read.format("vortex").load(path)
        .groupBy("k").agg(F.count("*").alias("n")).orderBy("k").collect()
    )
    assert [(r["k"], r["n"]) for r in got] == [(i, 4000) for i in range(5)]


def test_filtered_self_join_keeps_spark_filters(spark, tmp_path):
    """r7 regression: two DIFFERENTLY-FILTERED scans of one vortex
    relation (the decontam/self-join shape). Before r7, pushFilters
    accepted EqualTo → Spark deleted that branch's Filter node, and the
    upstream single-slot readInfo cache executed the OTHER branch's
    scan closure for it — the '=' branch returned every row, silently
    (observed: 58k rows instead of 2.5k). With all filters residual
    and no scan-closure row prefilter, row correctness is Spark's and
    the join is exact."""
    path = str(tmp_path / "selfjoin.vortex")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") % 10).alias("lang"),
    )
    df.write.format("vortex").mode("append").save(path)
    v = spark.read.format("vortex").load(path)
    left = v.filter(F.col("grp") == "0")
    right = v.filter(F.col("grp") != "0")
    got = left.join(right, "lang").count()

    p = str(tmp_path / "selfjoin_parquet")
    df.write.parquet(p)
    pq = spark.read.parquet(p)
    want = pq.filter(F.col("grp") == "0").join(pq.filter(F.col("grp") != "0"), "lang").count()
    assert got == want and got > 0

    # both filters must survive in the executed plan (no branch trusts
    # the scan closure for row-level filtering)
    plan = left.join(right, "lang")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Filter") >= 2


def test_all_residual_pushdown_still_prunes_end_to_end(spark, tmp_path):
    """All-residual contract: pushFilters returns EVERY filter (Spark
    keeps its Filter nodes) yet the recorded hints must still reach
    partitions() through the real planner — a point filter on a sorted
    40-chunk dataset plans one surviving chunk (read from the planner's
    trace event) in one scan partition AND returns exact rows. This
    guards against a regression where declining all filters stops the
    pushdown path from running (which would silently disable zone-map
    pruning everywhere). Hints are opt-in (`pushdown=true`), the safe
    mode for this fresh-load-per-query shape."""
    from duckdb_vortex_spark.sources.vortex import register, write_sorted

    register(spark)
    p = str(tmp_path / "sorted_e2e.vortex")
    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("a"), F.col("id").alias("payload")
    )
    write_sorted(df, p, sort_cols=["a"], chunk_rows=1000)
    tf = tmp_path / "plan_events.log"
    tf.write_text("")
    q = (
        spark.read.format("vortex")
        .option("pushdown", "true")
        .option("trace_file", str(tf))
        .load(p)
        .filter(F.col("a") == 7)
    )
    assert q.count() == 200  # row-level exactness (Spark's Filter)
    planned = [
        ln.split()[1] for ln in tf.read_text().splitlines()
        if ln.startswith("partitions ")
    ]
    assert planned and set(planned) == {"chunks=1"}, planned  # chunk-level pruning (hints)
    assert q.rdd.getNumPartitions() == 1
