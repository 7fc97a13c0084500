"""Property-based round-trip tests for the vortex DataSource
(hypothesis): arbitrary typed rows — including NaN/±inf doubles,
empty/unicode strings, extreme dates, null-heavy columns — must
write+read losslessly. Extends the reference's fixed golden suites
(table.test/nulls.test) with randomized coverage the way §5 notes the
reference itself lacks."""

from __future__ import annotations

import datetime
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from duckdb_vortex_spark.sources.vortex import (
    MAX_TASK_BYTES,
    VortexChunk,
    VortexReader,
    pack_chunks,
    register,
)

ROW = st.tuples(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.one_of(st.none(), st.booleans()),
    st.one_of(
        st.none(),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),
    st.one_of(st.none(), st.text(max_size=40)),
    st.one_of(
        st.none(),
        st.dates(min_value=datetime.date(1, 1, 1), max_value=datetime.date(9999, 12, 31)),
    ),
    st.one_of(st.none(), st.binary(max_size=32)),
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("b", T.BooleanType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("dt", T.DateType(), True),
        T.StructField("bin", T.BinaryType(), True),
    ]
)


def _canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float) and math.isnan(v):
                vals.append("NaN")
            elif isinstance(v, bytearray):
                vals.append(bytes(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(ROW, min_size=1, max_size=50, unique_by=lambda r: r[0]))
def test_roundtrip_random_rows(spark, tmp_path_factory, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    path = str(tmp_path_factory.mktemp("prop") / "t.vortex")
    df.coalesce(1).write.format("vortex").mode("append").option("chunk_rows", 7).save(path)
    back = spark.read.format("vortex").load(path)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert _canon(back.collect()) == _canon(df.collect())


NESTED_ROW = st.tuples(
    st.integers(min_value=0, max_value=2**31),
    st.one_of(
        st.none(),
        st.lists(
            st.floats(allow_nan=False, allow_infinity=True, width=64), max_size=8
        ),
    ),
    st.one_of(
        st.none(),
        st.tuples(st.one_of(st.none(), st.text(max_size=10)), st.integers(-100, 100)),
    ),
    st.one_of(
        st.none(),
        st.dictionaries(st.text(min_size=1, max_size=6), st.integers(0, 1000), max_size=4),
    ),
)

NESTED_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("arr", T.ArrayType(T.DoubleType()), True),
        T.StructField(
            "rec",
            T.StructType(
                [
                    T.StructField("name", T.StringType(), True),
                    T.StructField("score", T.LongType(), True),
                ]
            ),
            True,
        ),
        T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
    ]
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(NESTED_ROW, min_size=1, max_size=30, unique_by=lambda r: r[0]))
def test_roundtrip_random_nested_rows(spark, tmp_path_factory, rows):
    """SURVEY §1.2 stretch parity: ARRAY / STRUCT / MAP columns through
    the DataSource, randomized — nulls at every level, empty arrays,
    ±inf elements, unicode keys."""
    df = spark.createDataFrame(rows, NESTED_SCHEMA)
    path = str(tmp_path_factory.mktemp("propn") / "t.vortex")
    df.coalesce(1).write.format("vortex").mode("append").option("chunk_rows", 5).save(path)
    back = spark.read.format("vortex").load(path)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]

    def canon_map(rows_):
        return sorted(
            (
                r[0],
                tuple(r[1]) if r[1] is not None else None,
                tuple(r[2]) if r[2] is not None else None,
                tuple(sorted(r[3].items())) if r[3] is not None else None,
            )
            for r in rows_
        )

    assert canon_map(back.collect()) == canon_map(df.collect())


# --- additive schema evolution (random column subsets) --------------------

_POOL = [
    ("c_int", T.LongType(), st.integers(-(2**40), 2**40)),
    ("c_str", T.StringType(), st.one_of(st.none(), st.text(max_size=12))),
    ("c_dbl", T.DoubleType(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    ("c_bool", T.BooleanType(), st.one_of(st.none(), st.booleans())),
]


@st.composite
def evolution_case(draw):
    """Two file schemas over the column pool: file 1 uses a prefix,
    file 2 the full set (the additive-evolution shape), with random
    row data for each."""
    k = draw(st.integers(1, len(_POOL) - 1))
    n1 = draw(st.integers(1, 12))
    n2 = draw(st.integers(1, 12))
    rows1 = [
        tuple([i] + [draw(sgen) for _, _, sgen in _POOL[:k]]) for i in range(n1)
    ]
    rows2 = [
        tuple([100 + i] + [draw(sgen) for _, _, sgen in _POOL]) for i in range(n2)
    ]
    return k, rows1, rows2


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=evolution_case())
def test_schema_evolution_random_subsets(spark, tmp_path_factory, case):
    k, rows1, rows2 = case
    fields = lambda n: T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(nm, dt) for nm, dt, _ in _POOL[:n]]
    )
    df1 = spark.createDataFrame(rows1, fields(k))
    df2 = spark.createDataFrame(rows2, fields(len(_POOL)))
    path = str(tmp_path_factory.mktemp("evo") / "d.vortex")
    df1.coalesce(1).write.format("vortex").mode("append").save(path)
    df2.coalesce(1).write.format("vortex").mode("append").save(path)

    back = spark.read.format("vortex").load(path)
    assert [f.name for f in back.schema.fields] == ["id"] + [n for n, _, _ in _POOL]
    # expected: df1 rows null-extended to the full schema, plus df2
    want = [tuple(r) + (None,) * (len(_POOL) - k) for r in rows1] + rows2
    assert _canon(back.collect()) == _canon(
        spark.createDataFrame(want, fields(len(_POOL))).collect()
    )


# --- scan-task packing ----------------------------------------------------


@settings(max_examples=400, deadline=None)
@given(
    weights=st.lists(
        st.one_of(st.integers(0, 4096), st.integers(0, 3 * MAX_TASK_BYTES)),
        max_size=80,
    ),
    per_file=st.integers(1, 9),
    cores=st.integers(1, 64),
)
def test_pack_chunks_partitions_every_chunk_once_in_order(weights, per_file, cores):
    chunks = [
        VortexChunk(f"part-{i // per_file}.vortex", i % per_file, w)
        for i, w in enumerate(weights)
    ]
    tasks = pack_chunks(chunks, cores)
    # concatenating the tasks gives back the input: every chunk lands in
    # exactly one task and file-then-chunk order is kept
    assert [c for t in tasks for c in t.chunks] == chunks
    assert all(t.chunks for t in tasks)
    total = sum(weights)
    want = min(len(chunks), max(cores, math.ceil(total / MAX_TASK_BYTES)))
    assert len(tasks) == want
    if total:  # balanced: no task exceeds its share by more than one chunk
        for t in tasks:
            assert sum(c.nbytes for c in t.chunks) <= total / want + max(weights)


@pytest.mark.parametrize("cores", [1, 2, 5, 64])
def test_reader_packs_survivors_or_plans_the_empty_sentinel(
    tmp_path, monkeypatch, cores
):
    import pyarrow as pa
    from pyspark.sql.datasource import GreaterThan

    from duckdb_vortex_spark.sources import vortex, vortex_format

    d = tmp_path / "packed.vortex"
    d.mkdir()
    for name in ("part-a.vortex", "part-b.vortex"):
        w = vortex_format.VortexFileWriter(
            str(d / name), pa.schema([("k", pa.int64())])
        )
        w.write_table(pa.table({"k": pa.array(range(30), pa.int64())}), 4)
        w.close()
    monkeypatch.setattr(vortex, "default_cpus", lambda: cores)
    schema = T.StructType([T.StructField("k", T.LongType())])

    r = VortexReader({"path": str(d)}, schema)
    chunks = r.surviving_chunks()
    assert len(chunks) == 16
    tasks = r.partitions()
    assert [c for t in tasks for c in t.chunks] == chunks
    assert len(tasks) == min(16, cores)
    rows = [v for t in tasks for b in r.read(t) for v in b.column(0).to_pylist()]
    assert rows == list(range(30)) * 2

    r.pushed = [GreaterThan(("k",), 99)]
    assert r.surviving_chunks() == []
    (sentinel,) = r.partitions()
    assert sentinel.chunks == [VortexChunk(str(d / "part-a.vortex"), -1)]
    assert list(r.read(sentinel)) == []
