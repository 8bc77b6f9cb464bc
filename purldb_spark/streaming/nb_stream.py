"""Naive Bayes ingest stream — the streaming face of the fifth trainer
family (operators/nb.py): per micro-batch, write the batch's OWN
sufficient-statistics shard; the current model is the SUM of all shards.

State taxonomy: shard ledger (the sketch_hll_merge_daily recipe applied
to a trainer) — counts form a commutative monoid under +, so per-epoch
shards merge into the exact single-pass model without re-reading any
text (engine-checked by the nb_merge_shards oracle query). Replay
idempotence is the epoch-partition overwrite: a replayed micro-batch
recomputes the identical shard and rewrites its own partition, changing
nothing.

Shards live in the ``shards`` table of the stats dir, epoch-partitioned
inside a generation (compact_stream owns both layouts). The ledger grows
by one C x B shard per epoch; ``compact_nb_shards`` rolls the tail up
with compact_stream.compact_shards on the (label, bucket) grid: fold all
shards EXCEPT the newest into one base partition of a fresh generation,
carry the newest shard as its own partition, atomically swap CURRENT.
Carrying the newest preserves the replay contract — the only epoch
Structured Streaming can replay is the last one, and its partition
still exists to be overwritten; folding it into the base would
double-count on replay. Readers resolve through the pointer, so a crash
anywhere before the swap leaves the old generation intact.

At 100 TB: tokenize is map-only inside the micro-batch; the per-batch
combine ships at most classes x buckets x partitions rows; model reads
aggregate a few thousand integer rows however large the corpus that
produced them. The 17th face in the streaming catalogue (DESIGN.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.operators.nb import nb_train
from purldb_spark.streaming.compact_stream import (
    SHARDS,
    compact_shards,
    epoch_path,
    shard_totals,
    table_path,
    writer_lock,
)

# the (key, sum) columns of the class x bucket count grid
_GRID = (("label", "bucket"), ("token_cnt", "class_docs", "class_tokens"))


def train_nb_batch(
    spark: SparkSession,
    batch: DataFrame,
    label_col: str,
    text_col: str,
    n_buckets: int,
    stats_dir: str,
    epoch_id: int = 0,
    n_classes: int = 2,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body: count this batch's sufficient statistics
    (dense class x bucket grid, operators/nb.nb_train) and overwrite
    the epoch's shard partition.

    Resolve->write holds compact_stream's :func:`writer_lock`, matching
    every other append face (dedup/ann/simhash streams): without it a
    batch racing ``compact_nb_shards`` could resolve the OLD generation
    root, have its freshly written shard pruned after the swap (or land
    it where readers no longer resolve), and silently lose the epoch's
    counts — the stream checkpoint advances, so the batch is never
    replayed. The lock covers the counting agg too; shards are tiny
    (C x B integers), so the hold is short."""
    with writer_lock(stats_dir, timeout=lock_timeout):
        nb_train(
            spark, batch, label_col, text_col, n_buckets, n_classes
        ).write.mode("overwrite").parquet(
            epoch_path(table_path(stats_dir, SHARDS), epoch_id)
        )


def current_nb_model(spark: SparkSession, stats_dir: str) -> DataFrame:
    """The up-to-date model: SUM of every shard's counts on the dense
    grid — equal to a single-pass train over all ingested batches by
    the monoid algebra (nb_merge_shards proves this engine-checked).
    Returns the same schema as nb_train."""
    return shard_totals(spark, stats_dir, *_GRID)


def nb_sink(
    spark: SparkSession,
    stats_dir: str,
    label_col: str,
    text_col: str,
    n_buckets: int,
    n_classes: int = 2,
):
    """foreachBatch body for a Structured Streaming writeStream."""

    def body(batch: DataFrame, epoch_id: int) -> None:
        train_nb_batch(
            spark,
            batch,
            label_col,
            text_col,
            n_buckets,
            stats_dir,
            epoch_id=epoch_id,
            n_classes=n_classes,
        )

    return body


def compact_nb_shards(
    spark: SparkSession, stats_dir: str, lock_timeout: float = 60.0
) -> int | None:
    """Roll the shard ledger up into a fresh generation
    (compact_stream.compact_shards on the NB grid). Returns the new
    generation id, or None when there are fewer than two shards."""
    return compact_shards(spark, stats_dir, *_GRID, lock_timeout=lock_timeout)
