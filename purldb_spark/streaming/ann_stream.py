"""Streaming face of the trained ANN index (plans/q_cluster.py family):
new vectors arrive as a stream and each micro-batch is assigned its
trained coarse cell and trained PQ codes, appended to the persistent
index tables — the index-maintenance job a production vector store runs
between full retrains (FAISS's add-after-train contract: centroids and
codebooks are FROZEN artifacts of the last training run; arriving
vectors are encoded under them, never the other way around).

The trained model rides into the batch body as plan literals
(operators/kmeans.assign_expr over the driver-cached centroid lists) —
the same broadcast-as-literals execution the batch queries use, so a
vector admitted by the stream gets byte-identical (cell, codes) to the
same vector in a batch rebuild; the equivalence test pins that.

Replay idempotence: both appends anti-join on vec_id — a crashed and
re-run micro-batch recomputes identical assignments and writes nothing
twice (same contract as dedup_stream / bloom_stream / funnel_stream).
Appends take the per-directory writer lease and resolve through the
generation pointer (compact_stream.table_path), so the index gets the
same compaction + ledger-owned retention as the dedup band indexes:
compact_stream.compact_ann_index rewrites it CELL-CLUSTERED — the
probe's equi-join key, so a compacted index co-locates each cell's
shortlist (r13).

At 100 TB: assignment + encoding are map-only over the batch (k x dim
and m x ksub x subdim literals in codegen), the anti-joins key on
vec_id, and the index grows by O(batch) rows of (cell, 4-byte codes) —
no shuffle touches the accumulated corpus. Probing the accumulated
index is the same cell equi-join as knn_fully_trained_ivfpq.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.streaming.compact_stream import (
    append_unseen,
    current_generation,
    table_path,
    writer_lock,
)


def codes_path(index_dir: str) -> str:
    """The live (vec_id, cell, codes) table — resolves through the
    generation pointer (compact_stream.table_path) so post-compaction
    batches probe and append the compacted generation. Pre-r13 flat
    layouts (parquet files directly under index_dir, no CURRENT) keep
    working: they read as the legacy root until first compaction."""
    if current_generation(index_dir) is None and (
        os.path.isfile(os.path.join(index_dir, "_SUCCESS"))
        or any(
            f.endswith(".parquet")
            for f in (
                os.listdir(index_dir) if os.path.isdir(index_dir) else ()
            )
        )
    ):
        return index_dir  # legacy flat layout
    return table_path(index_dir, "codes")


def index_batch(
    spark: SparkSession,
    batch_vecs: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    index_dir: str,
) -> None:
    """One micro-batch body: assign the trained cell, encode all PQ
    subspaces, append (vec_id, cell, c0..c{m-1}) rows (idempotent)."""
    from purldb_spark.operators.kmeans import assign_expr

    m = len(codebooks)
    sub = len(codebooks[0][0])
    rows = batch_vecs.select(
        "vec_id",
        (assign_expr("embedding", centroids)).alias("cell"),
        *[
            (
                assign_expr(
                    f"slice(embedding, {si * sub + 1}, {sub})", codebooks[si]
                )
                - F.lit(1)
            )
            .cast("long")
            .alias(f"c{si}")
            for si in range(m)
        ],
    )
    with writer_lock(index_dir):
        append_unseen(spark, rows, codes_path(index_dir), ["vec_id"])


def ann_index_sink(
    spark: SparkSession,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    index_dir: str,
):
    """foreachBatch callable wiring index_batch into a streaming query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        index_batch(spark, batch, centroids, codebooks, index_dir)

    return process


def probe_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    vectors: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
) -> DataFrame:
    """Top-k per query over the ACCUMULATED index: cell equi-join against
    the streamed (vec_id, cell) rows, exact re-rank against ``vectors``
    (the raw vector store the index points into). The shortlist here is
    the whole cell (no ADC cut) — the streamed index stores codes for the
    downstream ADC path, and this probe is the exactness baseline the
    equivalence test checks."""
    from pyspark.sql import Window

    from purldb_spark.operators.kmeans import assign_expr, sqdist_cols_spark

    idx = spark.read.parquet(codes_path(index_dir)).select("vec_id", "cell")
    q = queries.select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_emb"),
        assign_expr("embedding", centroids).alias("q_cell"),
    )
    cand = q.join(
        idx,
        (F.col("q_cell") == F.col("cell"))
        & (F.col("q_vec_id") != F.col("vec_id")),
    )
    raw = vectors.select(
        F.col("vec_id"), F.col("embedding").alias("i_emb")
    )
    scored = cand.join(raw, "vec_id").withColumn(
        "exact_d", F.expr(sqdist_cols_spark("q_emb", "i_emb"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.asc("exact_d"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "vec_id", "exact_d", "rank")
    )
