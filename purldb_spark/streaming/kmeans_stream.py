"""Mini-batch k-means ingest stream — the 18th streaming face: per
micro-batch, write the batch's OWN per-cell sufficient-statistics shard
under the CURRENT frozen centroids; the refreshed model is one Lloyd
step computed from the SUM of all shards.

State taxonomy: shard ledger (the nb_stream/sketch recipe applied to
the clustering trainer). Under FROZEN centroids, Lloyd's mean update
needs exactly (cell, n, sum per dim) — and with coordinates quantized
to the e6 fixed-point grid (x_e6 = floor(v * 1e6), the same
integer-inference discipline as operators/nb.py's e6 gate) those sums
form a commutative monoid under +, so per-epoch shards merge into the
EXACT single-pass statistics without re-reading any vector
(engine-checked by the kmeans_minibatch_merge oracle query). Replay
idempotence is the epoch-partition overwrite, identical to nb_stream.

The frozen-centroid contract is the standard mini-batch k-means shape
(Sculley, WWW'10, adapted to epoch granularity): assignments inside an
epoch use the centroids the epoch STARTED with; a refresh point folds
the accumulated statistics into new centroids and subsequent epochs
assign under those. This keeps the per-batch work one map-only argmin
pass + one bounded combine — no iteration inside the stream.

The ledger grows one k x dim shard per epoch; ``compact_kmeans_shards``
rolls the tail up with compact_stream.compact_shards on the (cluster,
pos) grid, the same fold nb_stream uses: fold all shards except the
newest, carry the newest as its own partition (the one epoch Structured
Streaming can replay must keep its own partition to overwrite),
atomically swap CURRENT.

At 100 TB: the per-batch combine ships at most k x dim x partitions
integer rows; model reads aggregate k x dim rows however large the
corpus; the refreshed artifact is k x dim doubles to the driver — the
same O(model) driver-traffic contract as every trainer here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.kmeans import assign_expr
from purldb_spark.streaming.compact_stream import (
    SHARDS,
    compact_shards,
    epoch_path,
    shard_totals,
    table_path,
    writer_lock,
)

# the (key, sum) columns of the per-cell statistics grid
_GRID = (("cluster", "pos"), ("n", "sum_e6"))


def batch_cell_stats(
    batch: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """One batch's sufficient statistics under FROZEN centroids:
    (cluster, pos, n, sum_e6) — a map-only argmin assignment, a
    posexplode to (dim) grain, and one combine-bounded count/sum agg.
    sum_e6 sums floor(v * 1e6) BIGINTs, so statistics from any sharding
    of the data merge exactly (module docstring)."""
    return (
        batch.select(
            assign_expr(vec_col, centroids).alias("cluster"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .select(
            "cluster",
            "pos",
            F.floor(F.col("v").cast("double") * 1e6)
            .cast("long")
            .alias("x_e6"),
        )
        .groupBy("cluster", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x_e6").cast("long").alias("sum_e6"),
        )
    )


def train_kmeans_batch(
    spark: SparkSession,
    batch: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    stats_dir: str,
    epoch_id: int = 0,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body: write the batch's statistics shard,
    overwriting its own epoch partition (replay idempotence). Holds the
    writer flock across resolve->write like every other append face —
    a batch racing a compaction must not land its shard in a directory
    the swap is about to retire."""
    with writer_lock(stats_dir, timeout=lock_timeout):
        batch_cell_stats(batch, vec_col, centroids).write.mode(
            "overwrite"
        ).parquet(
            epoch_path(table_path(stats_dir, SHARDS), epoch_id)
        )


def current_kmeans_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
    """The up-to-date statistics: SUM of every shard on the (cluster,
    pos) grid — equal to a single pass over all ingested batches by the
    monoid algebra."""
    return shard_totals(spark, stats_dir, *_GRID)


def refreshed_centroids(
    spark: SparkSession,
    stats_dir: str,
    centroids: list[list[float]],
) -> list[list[float]]:
    """One Lloyd step from the merged ledger: mean = sum_e6 / 1e6 / n
    per (cluster, pos); clusters with no ingested members keep their
    frozen centroid (kmeans_fit's COALESCE keep-old rule). Driver
    traffic is k x dim integers."""
    rows = current_kmeans_stats(spark, stats_dir).collect()
    out = [list(c) for c in centroids]
    for r in rows:
        out[int(r.cluster) - 1][int(r.pos)] = (
            float(r.sum_e6) / 1e6 / float(r.n)
        )
    return out


def kmeans_sink(
    spark: SparkSession,
    stats_dir: str,
    vec_col: str,
    centroids: list[list[float]],
):
    """foreachBatch body for a Structured Streaming writeStream."""

    def body(batch: DataFrame, epoch_id: int) -> None:
        train_kmeans_batch(
            spark, batch, vec_col, centroids, stats_dir, epoch_id=epoch_id
        )

    return body


def compact_kmeans_shards(
    spark: SparkSession, stats_dir: str, lock_timeout: float = 60.0
) -> int | None:
    """Roll the shard ledger into a fresh generation
    (compact_stream.compact_shards on the k-means grid). Returns the new
    generation id, or None when there are fewer than two shards."""
    return compact_shards(spark, stats_dir, *_GRID, lock_timeout=lock_timeout)
