"""Nested STRUCT/LIST/MAP layouts through the vortex format and
DataSource (SURVEY §1.2 stretch parity: the Vortex format's struct
layouts — `vortex-layout`, reference Cargo.lock:4414-4456). Children
are independently encoded through the specialized cascade (not an
opaque Arrow-IPC blob), leaf zone maps land in the footer, and pushed
nested-field predicates prune chunks."""

from __future__ import annotations

import glob

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from duckdb_vortex_spark.sources import vortex_format as vf
from duckdb_vortex_spark.sources.vortex import VortexReader, register, write_sorted


@pytest.fixture(autouse=True)
def _register(spark):
    register(spark)


def _roundtrip(arr: pa.Array) -> pa.Array:
    cc = vf.encode_column(arr)
    return cc, vf.decode_column(cc.enc, cc.meta, cc.buf, len(arr), arr.type)


NESTED_CASES = {
    "struct": (
        pa.array(
            [{"a": i, "b": f"s{i}"} if i % 5 else None for i in range(200)],
            type=pa.struct([("a", pa.int64()), ("b", pa.utf8())]),
        ),
        "struct",
    ),
    "list": (
        pa.array(
            [[i, i + 1] if i % 4 else None for i in range(200)],
            type=pa.list_(pa.int64()),
        ),
        "list",
    ),
    "large_list": (
        pa.array(
            [[float(i)] * (i % 3) for i in range(200)],
            type=pa.large_list(pa.float64()),
        ),
        "list",
    ),
    "map": (
        pa.array(
            [[(f"k{i % 3}", float(i))] if i % 6 else None for i in range(200)],
            type=pa.map_(pa.utf8(), pa.float64()),
        ),
        "map",
    ),
    "list_of_struct": (
        pa.array(
            [[{"x": i, "y": f"n{i}"}] for i in range(200)],
            type=pa.list_(pa.struct([("x", pa.int64()), ("y", pa.utf8())])),
        ),
        "list",
    ),
    "struct_of_list": (
        pa.array(
            [{"v": list(range(i % 4))} for i in range(200)],
            type=pa.struct([("v", pa.list_(pa.int64()))]),
        ),
        "struct",
    ),
    "all_null_struct": (
        pa.array([None] * 50, type=pa.struct([("a", pa.int64())])),
        "struct",
    ),
    "empty_lists": (pa.array([[]] * 50, type=pa.list_(pa.utf8())), "list"),
}


@pytest.mark.parametrize("name", sorted(NESTED_CASES))
def test_nested_encode_roundtrip(name):
    arr, want_enc = NESTED_CASES[name]
    cc, back = _roundtrip(arr)
    assert cc.enc == want_enc, f"fell back to {cc.enc!r} — nested layout not used"
    assert back.equals(arr), f"{name}: value mismatch"


def test_nested_children_use_specialized_encoders():
    """The point of the layout: an int child bit-packs, a string child
    goes through dict/FSST — not IPC."""
    arr, _ = NESTED_CASES["struct"]
    cc = vf.encode_column(arr)
    encs = {d["name"]: d["enc"] for d in cc.meta["children"]}
    assert encs["a"] == "bitpack"
    assert encs["b"].startswith("str_")


def test_sliced_list_rebases_offsets():
    big = pa.array([[i, i + 1, i + 2] for i in range(1000)], type=pa.list_(pa.int64()))
    sl = big.slice(500, 100)
    cc, back = _roundtrip(sl)
    # rebased offsets: the encoded chunk must not carry the 500
    # unreferenced head lists' values
    assert back.equals(pa.array(sl.to_pylist(), type=sl.type))


def test_nested_leaf_zone_maps():
    arr, _ = NESTED_CASES["struct"]
    cc = vf.encode_column(arr)
    a = next(d for d in cc.meta["children"] if d["name"] == "a")
    assert (a["min"], a["max"]) == (0, 199)


def _nested_df(spark, n=4000):
    return spark.sql(
        f"""
        SELECT id,
          named_struct('a', id * 2, 'b', concat('s', id)) AS st,
          array(id, id + 1) AS arr,
          map(concat('k', id % 3), CAST(id AS DOUBLE)) AS mp,
          array(named_struct('x', id % 7)) AS arst
        FROM range({n})
        """
    )


def test_nested_datasource_roundtrip(spark, tmp_path):
    d = str(tmp_path / "nested.vortex")
    df = _nested_df(spark)
    df.coalesce(2).write.format("vortex").mode("append").option(
        "chunk_rows", 1000
    ).save(d)
    f0 = sorted(glob.glob(d + "/part-*.vortex"))[0]
    foot = vf.read_footer(f0)
    encs = {n: c["enc"] for n, c in foot.chunks[0]["columns"].items()}
    assert encs["st"] == "struct" and encs["arr"] == "list" and encs["mp"] == "map"
    assert encs["arst"] == "list"
    back = spark.read.format("vortex").load(d)
    # all-nullable on read (parquet-source convention, vortex.py:schema)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(back.collect()) == sorted(df.collect())


def test_nested_filter_pushdown_correct(spark, tmp_path):
    d = str(tmp_path / "np.vortex")
    _nested_df(spark).coalesce(1).write.format("vortex").mode("append").save(d)
    got = (
        spark.read.format("vortex")
        .load(d)
        .filter(F.col("st.a") == 2468)
        .select("id", "st.b")
        .collect()
    )
    assert [(r.id, r.b) for r in got] == [(1234, "s1234")]


def test_nested_struct_field_prunes_chunks(spark, tmp_path):
    """st.a zone maps prune: sorted layout + a top-slice predicate on
    the struct leaf keeps only the overlapping chunks."""
    from pyspark.sql.datasource import GreaterThan

    d = str(tmp_path / "sorted-nested.vortex")
    df = spark.range(10000).select(
        "id", F.struct(F.col("id").alias("a")).alias("st")
    )
    write_sorted(df.coalesce(1), d, ["id"], chunk_rows=500)
    schema = spark.read.format("vortex").load(d).schema

    def surviving(pushed):
        r = VortexReader({"path": d}, schema)
        r.pushed = pushed
        return len(r.surviving_chunks())

    total = surviving([])
    pruned = surviving([GreaterThan(("st", "a"), 9500)])
    assert total == 20
    assert pruned <= 2


def test_nested_isnull_prune_counts_parent_nulls(spark, tmp_path):
    """ADVICE r5 (medium): Arrow allows VALID child slots under a NULL
    parent struct — the child array's own null_count is 0, yet
    ``st.a IS NULL`` is TRUE on every parent-null row. IsNull pruning
    keyed on the bare leaf count silently dropped those chunks;
    chunk_stats must fold ancestor struct nulls into the leaf count."""
    from pyspark.sql.datasource import IsNull

    child = pa.array(list(range(100)), type=pa.int64())  # fully valid
    mask = pa.array([i % 4 == 0 for i in range(100)])  # parent null 1-in-4
    st = pa.StructArray.from_arrays([child], names=["a"], mask=mask)
    assert st.field("a").null_count == 0 and st.null_count == 25
    tbl = pa.table({"id": pa.array(range(100), type=pa.int64()), "st": st})
    d = tmp_path / "parentnull.vortex"
    d.mkdir()
    w = vf.VortexFileWriter(str(d / "part-0.vortex"), tbl.schema)
    w.write_table(tbl)
    w.close()

    footer = vf.read_footer(str(d / "part-0.vortex"))
    _, _, nc = vf.chunk_stats(footer, 0, "st.a")
    assert nc >= 25  # ancestor nulls folded in (leaf alone says 0)

    schema = spark.read.format("vortex").load(str(d)).schema
    r = VortexReader({"path": str(d)}, schema)
    r.pushed = [IsNull(("st", "a"))]
    parts = r.surviving_chunks()
    assert len(parts) == 1 and parts[0].row_group == 0  # NOT pruned

    got = (
        spark.read.format("vortex")
        .load(str(d))
        .filter(F.col("st.a").isNull())
        .count()
    )
    assert got == 25


def test_nested_schema_evolution_additive(spark, tmp_path):
    """A file written before a nested column existed reads it back as
    typed nulls alongside newer files."""
    d = str(tmp_path / "evolve.vortex")
    spark.range(10).write.format("vortex").mode("append").save(d)
    spark.range(10, 20).select(
        "id", F.struct(F.lit(1).alias("a")).alias("st")
    ).write.format("vortex").mode("append").save(d)
    back = spark.read.format("vortex").load(d)
    rows = {r.id: r.st for r in back.collect()}
    assert len(rows) == 20
    assert rows[0] is None and rows[15] is not None
