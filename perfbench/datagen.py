"""Deterministic synthetic tables for the benchmark.

The catalog reads ten tables (``duckdb_vortex_spark.catalog.TABLES``):
a TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem), an ``events`` stream, a ``documents`` corpus with exact and
near duplicates, and unit-norm ``embeddings`` clustered around ten
labels. This module writes them as parquet with the column names and
Arrow types the catalog expects.

The tables depend only on the scale factor and ``DATA_SEED``, never on
the run seed: the analytics workload checks results against hashes
computed once from these exact rows. A run's seed shapes what is done
with the tables (templates, slices, batch boundaries, entry order).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
# bump when the generator changes, so cached tables are regenerated
DATA_VERSION = 2

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "old", "new", "hot", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
N_LABELS = 10


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        # as in TESTDATA.md, embeddings stop at 2000 vectors
        "embeddings": min(int(50_000 * sf), 2000),
    }


def _ts(days: np.ndarray, base: str) -> pa.Array:
    us = np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Random vocabulary text. About 4% of docs copy an earlier doc with
    different case or spacing (exact duplicates after normalisation) and
    about 5% copy one with `` dup`` appended (near duplicates)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() if rng.random() < 0.5 else src.replace(" ", "  ", 3))
        elif i > 10 and r < 0.09:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 110)))
            texts.append(" ".join(words))
    langs = [lang for lang, _ in LANGS]
    probs = np.array([p for _, p in LANGS])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(langs, n, p=probs / probs.sum()), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=3.0, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table(
        {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb,
         "label": pa.array(labels)}
    )


def tables(sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    rng = np.random.default_rng(DATA_SEED)
    i32 = np.int32
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(i32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    pk = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(i32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": rng.choice(("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(rng.integers(0, 2404, no), "1995-01-01"),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(i32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), nl),
            "l_linestatus": rng.choice(("F", "O"), nl),
            "l_shipdate": _ts(rng.integers(1, 2499, nl), "1995-01-01"),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400 / ne, ne)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne)),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.lognormal(3.5, 0.9, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the parquet tables at ``sf``,
    generating it under ``root`` on first use. Written to a temporary
    sibling and renamed, so an interrupted run never leaves a partial
    directory that a later run would trust."""
    final = os.path.join(root, f"v{DATA_VERSION}", f"sf{sf:g}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    publish(tmp, final)
    return final


def publish(tmp: str, final: str) -> None:
    """Rename a finished build into place; if a concurrent run got there
    first, keep its copy and drop ours."""
    try:
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
