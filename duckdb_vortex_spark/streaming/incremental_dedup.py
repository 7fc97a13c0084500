"""Incremental dedup: new stream data against the historical corpus.

The within-stream dedup in streaming/windows.py bounds its state by a
watermark; a TRAINING-DATA ingest pipeline needs the other kind too —
"have we EVER seen this document?" — whose state is the corpus itself
and therefore lives in storage, not the stream state store. The
standard shape at 100 TB/day:

1. per batch, fingerprint rows (xxhash64 of normalized text) and drop
   in-batch duplicates;
2. LEFT ANTI join the batch against the persistent fingerprint store
   (a vortex dataset: tiny rows, one column, zone-map-prunable);
3. append survivors to the output dataset AND their fingerprints to
   the store, both under the micro-batch's batch-id directory —
   retries overwrite their own dirs, so exactly-once composes with
   the streaming checkpoint.

Scale: the anti join shuffles on the fingerprint — both sides hash-
partition on a 64-bit key with no skew; the store grows by corpus
cardinality (8 bytes/doc before encoding), and a periodic
``compact_dataset`` keeps its file count flat. The batch side is one
micro-batch (bounded); Spark broadcasts it when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.vortex import FILE_SUFFIX  # noqa: F401  (store is a vortex dataset)
from .sinks import (
    overlapped_batch_writes,
    overwrite_batch_atomic,
    read_state,
    start_available_now,
)


def fingerprint(text_col: str = "text"):
    """Content fingerprint: xxhash64 over whitespace-normalized,
    lowercased text — byte-identical docs AND trivially-reformatted
    ones collapse."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return F.xxhash64(norm)


def incremental_dedup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    text_col: str = "text",
):
    """Start the ingest pipeline on a streaming DataFrame; returns the
    StreamingQuery (caller awaits). Output dataset: survivors only,
    first occurrence wins across the whole stream history."""
    return start_available_now(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: process_batch(
            batch_df, batch_id, out_dir, store_dir, text_col
        ),
    )


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    store_dir: str,
    text_col: str = "text",
) -> None:
    """One micro-batch of the ingest pipeline — exposed as a plain
    function so retry semantics are directly testable: calling it twice
    with the same batch_id is idempotent (the replay reads exactly the
    store state the first attempt read, then overwrites its own dirs)."""
    spark_ = batch_df.sparkSession
    fp = batch_df.withColumn("__fp", fingerprint(text_col))
    # in-batch dedup: keep one row per fingerprint (min doc_id for
    # determinism under retries)
    fp = (
        fp.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy(
                    *[c for c in fp.columns if c != "__fp"]
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # checkpoint: fp feeds both the history probe and the two writes —
    # without a barrier each consumer re-runs the first-wins window
    # (and every F.broadcast build is its own query execution)
    fp = fp.localCheckpoint(eager=False)
    # Anti-join ONLY against batches strictly earlier than this one.
    # A retried batch may have half-written its own store dir before
    # the checkpoint committed; reading it would see those stale
    # fingerprints, classify every row as seen, and rewrite both dirs
    # EMPTY — permanently dropping the documents. Reading state before
    # batch_id makes the replay read exactly what the first attempt read.
    seen = read_state(spark_, store_dir, batch_id, fp.select("__fp").schema)
    if seen is not None:
        # r16 (guide §3.1): the batch side is bounded, the store is the
        # corpus — broadcast the batch fingerprints INTO the store scan
        # (map-side semi; the store is never exchanged), then anti-join
        # the bounded matched set back. Row-identical to the direct
        # anti join: a batch fp is in `seen` iff it is in `matched`.
        matched = seen.join(
            F.broadcast(fp.select("__fp")), "__fp", "left_semi"
        ).distinct()
        fresh = fp.join(F.broadcast(matched), "__fp", "left_anti")
    else:  # first batch: store empty — dedup is in-batch only
        fresh = fp

    # r16 (guide §2.6): the two terminal writes are independent of each
    # other (different stores, both atomic per batch) — overlap them;
    # the context joins both before the batch returns, so exactly-once
    # is unchanged (see `overlapped_batch_writes`).
    with overlapped_batch_writes(spark_) as bw:
        bw.submit(
            overwrite_batch_atomic, fresh.select("__fp"), store_dir, batch_id,
            label=f"dedup b{batch_id}: fp store (write)",
        )
        overwrite_batch_atomic(fresh.drop("__fp"), out_dir, batch_id)
