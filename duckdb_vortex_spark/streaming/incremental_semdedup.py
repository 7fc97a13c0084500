"""Incremental SEMANTIC dedup: new embeddings vs a persistent IVF index.

Completes the incremental-ingest trio — exact fingerprints
(`incremental_dedup`), MinHash-LSH text near-dups
(`incremental_neardup`), and now embedding-space near-dups (the
SemDeDup signal, Abbas et al. 2023) — continuously, without re-running
the n·k assignment or any pairwise pass over the landed corpus.

Shape at 100 TB/day:

1. the centroid CODEBOOK is trained offline and static during ingest
   (standard IVF practice — FAISS trains on a sample, then serves);
   here it is the deterministic hash-order sample
   (`similarity.sample_centroids`) so an external oracle can replay
   the pick exactly;
2. per batch, 1-probe assignment of the NEW vectors against the
   broadcast codebook — map-side only, no shuffle of the corpus;
3. candidates = landed index rows in the batch's probed clusters
   ONLY: the index is written cluster-SORTED, so the candidate scan
   zone-map-prunes to O(batch clusters) chunks — the IVF
   inverted-list layout as batch-dir storage, never a corpus scan;
4. exact cosine vs candidates (+ earlier same-batch, same-cluster
   rows); a new vector is dropped iff some EARLIER vector (earlier
   batch, or same batch with smaller id) in the SAME cluster reaches
   the threshold. ALL vectors are indexed — dropped ones too — so the
   whole-history manifest is a pure function of (codebook, arrival
   order): it equals the batch-mode same-cluster answer regardless of
   micro-batch chopping, which is what the DuckDB oracle checks.

State: (cluster_id, vec_id, embedding, vnorm) per landed vector — the
vectors themselves ARE the verification state (SemDeDup needs real
cosines), which is why the cluster-sorted layout matters: reads are
bounded by probed clusters, not corpus size. Exactly-once: every
artifact commits through the staged atomic rename
(`sinks.overwrite_batch_atomic`); a retry reads only strictly-earlier
batch dirs.

Threshold note: the synthetic embeddings are diffuse (max pair cosine
~0.51 at sf0.01), so the entry uses 0.40 — the production-style 0.95
would test nothing, same reasoning as `dedup_semantic_cluster`'s 0.30.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, query
from ..operators.similarity import (
    _dot,
    _sql_cos,
    ivf_assign,
    sample_centroids,
)
from .sinks import (
    STATE_FILES,
    land_id_ordered_batches,
    overlapped_batch_writes,
    overwrite_batch_atomic,
    read_state,
    start_available_now,
)


def same_cluster_dropped(
    asg: DataFrame, index: DataFrame | None, threshold: float
) -> DataFrame:
    """The semantic gate: ids of the batch vectors whose cosine with an
    EARLIER vector in the same cluster reaches ``threshold``.

    ``asg`` (cluster_id, id, vec, vnorm) is the batch's 1-probe
    assignment; ``index`` is the prior IVF index read (same columns,
    cluster-sorted; None before anything has landed), of which only
    the clusters the batch probes are scanned. Earlier means a landed
    row, or a same-batch row with a smaller id. Returns (id) rows,
    lazily; the probed-cluster list is one bounded collect."""
    # bounded collect: <= n_clusters ints, reused as a LITERAL filter so
    # the prior-index scan zone-map-prunes to the probed clusters' chunks
    probed = sorted(r["cluster_id"] for r in asg.select("cluster_id").distinct().collect())

    def side(df, s):
        return df.select(
            "cluster_id",
            F.col("id").alias(f"id_{s}"),
            F.col("vec").alias(f"vec_{s}"),
            F.col("vnorm").alias(f"n_{s}"),
        )

    old_side = side(asg, "a")
    if index is not None:
        old_side = side(index.filter(F.col("cluster_id").isin(probed)), "a").unionByName(
            old_side
        )
    # earlier = strictly smaller id for same-batch rows; landed rows are
    # always earlier, and their ids are < every new id only under global
    # id-ordered ingest — the general guard (id_a < id_b) is correct for
    # BOTH cases because ids are unique across the stream.
    return (
        # batch side bounded → broadcast; the landed index rows
        # (history-sized) stream map-side
        old_side.join(F.broadcast(side(asg, "b")), "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (_dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b")))
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )


def semdedup_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    centroids: DataFrame,
    index_dir: str,
    manifest_dir: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the semantic-dedup ingest. Writes two
    batch-id scoped artifacts: the cluster-sorted index rows
    (cluster_id, id, vec, vnorm — ALL vectors) and the manifest
    (vec_id, keep)."""
    spark_ = batch_df.sparkSession
    with overlapped_batch_writes(spark_) as bw:
        asg = ivf_assign(batch_df, centroids, 1, id_col, vec_col).select(
            "cluster_id",
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            "vnorm",
        ).localCheckpoint(eager=False)  # lineage cut, not persist — see
        # incremental_pipeline.py (Catalyst re-analysis of accumulated
        # batch chains dominates otherwise)
        # fresh single-consumption load with a static In filter over the
        # cluster-SORTED index → opt-in zone-map pruning reads only the
        # probed clusters' chunks (safe: no relation reuse)
        dup_ids = same_cluster_dropped(
            asg,
            read_state(spark_, index_dir, batch_id, asg.schema, pushdown="true"),
            threshold,
        )
        # the index write depends only on `asg` (materialized by the
        # probed-cluster collect) and is atomic per (store, batch); state
        # reads list strictly-earlier batch ids only, so this batch's own
        # concurrent landing is invisible to them. Cluster-sorted append:
        # range partition + in-file sort => tight cluster_id zone maps,
        # so future batches' candidate scans prune
        bw.submit(
            overwrite_batch_atomic,
            asg.repartitionByRange(
                STATE_FILES, "cluster_id", "id"
            ).sortWithinPartitions("cluster_id", "id"),
            index_dir,
            batch_id,
            max_files=None,
            label=f"semdedup b{batch_id}: index (write)",
        )
        manifest = (
            asg.select("id")
            .join(F.broadcast(dup_ids.withColumn("__dup", F.lit(True))), "id", "left")
            .select(
                F.col("id").alias("vec_id"),
                F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
            )
        )
        overwrite_batch_atomic(manifest, manifest_dir, batch_id)


def incremental_semdedup_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    manifest_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Start the semantic-dedup ingest on a streaming DataFrame with a
    static (offline-trained) centroid codebook; returns the
    StreamingQuery. Manifest across all batches = batch-mode
    same-cluster SemDeDup of the whole history, first-wins."""
    return start_available_now(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: semdedup_process_batch(
            batch_df, batch_id, centroids, index_dir, manifest_dir, **kwargs
        ),
    )


# ---------------------------------------------------------------------------
# catalog entry: whole-history manifest equals the batch-mode answer
# ---------------------------------------------------------------------------

SEMDEDUP_STREAM_ORACLE = f"""
WITH h AS (
  SELECT vec_id, embedding,
         ((vec_id % 4294967296) * 1000003) % 4294967296 AS hk
  FROM embeddings
), c AS (
  SELECT row_number() OVER (ORDER BY hk, vec_id) - 1 AS cluster_id,
         embedding AS centroid
  FROM h
  QUALIFY row_number() OVER (ORDER BY hk, vec_id) <= 16
), asg AS (
  SELECT v.vec_id, v.embedding, c.cluster_id,
         {_sql_cos("v.embedding", "c.centroid")} AS csim
  FROM embeddings v CROSS JOIN c
), a1 AS (
  SELECT vec_id, embedding, cluster_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cluster_id) AS r FROM asg)
  WHERE r = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a1 a JOIN a1 b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.4
)
SELECT e.vec_id, d.vec_id IS NULL AS keep
FROM embeddings e LEFT JOIN dropped d USING (vec_id)
"""


@query(
    "stream_incremental_semdedup",
    oracle=SEMDEDUP_STREAM_ORACLE,
    tags=("streaming", "dedup", "similarity", "llm"),
)
def stream_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ingested in three id-ordered micro-batches through
    the persistent-IVF semantic-dedup pipeline (offline codebook →
    1-probe assign → candidate scan of probed clusters only → cosine
    >= 0.4 vs earlier vectors → per-batch keep/drop manifest), then
    the manifests unioned.

    Because every vector is indexed and "earlier" follows id order,
    the streamed whole-history manifest must equal batch-mode
    same-cluster SemDeDup: keep iff no same-cluster vector with a
    smaller id reaches the threshold — exactly what the oracle
    replays (codebook pick, 1-probe assignment with the same
    tie-break, pairwise cosine), independent of batch chopping."""
    from ..sources.vortex import register

    register(spark)
    emb = load(spark, sf_dir, "embeddings")
    # persist: ivf_assign's literal path collects this frame once per
    # micro-batch — cache the 16-row sample instead of re-running the
    # sampling query each batch
    centroids = sample_centroids(emb, 16).persist()

    def run(batches, root):
        idx_d, man_d = (os.path.join(root, d) for d in ("idx", "man"))
        for i, batch in batches:
            semdedup_process_batch(batch, i, centroids, idx_d, man_d)

    try:
        return land_id_ordered_batches(emb, "vec_id", "semdedup", ("vec_id", "keep"), run)
    finally:
        centroids.unpersist()
