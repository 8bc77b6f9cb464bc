"""Document ingest ledger — the streaming face that OWNS the retention
policy the band-index compaction applies.

compact_stream.compact_band_index takes a ``retained_docs`` frame and
applies it with one semi-join; the policy lives with the document
LEDGER, which knows ingest times. This module is that ledger: per micro-batch it records which documents arrived in which
epoch, and ``retained_docs`` turns a retention window (keep the last K
epochs, or everything since epoch E) into exactly the frame compaction
wants. compaction_retention_plan (plans/q_compact_plan.py) is the
dry-run dashboard an operator prints BEFORE choosing the window; this
module is how the chosen window is derived at maintenance time.

State taxonomy: the ledger uses the epoch-partial recipe (chunk_stream/
hist_stream's) — each epoch OVERWRITES its own ``batch=<epoch>``
partition with the batch's doc ids, so a replayed epoch rewrites the
identical rows (idempotent) and a crash-truncated partition is healed by
the replay that re-runs it BEFORE the stream advances. Maintenance reads
(``retained_docs`` feeding a compaction) run between batches — the same
quiesce point the band index's writer_lock serializes — so they only
ever see committed partitions; the partition listing is explicit
(compact_stream.epoch_dirs: path-level, never a whole-tree read) to keep
the selector logic exact, and compact_stream.prune_epochs drops
partitions below the largest retention window the owner still needs.

At 100 TB the ledger is the ingest pipeline's manifest table (epoch ->
partition, a metadata-scale row count); ``retained_docs`` is partition
pruning on it — a metadata operation, not a scan. Epoch ids come from
the streaming checkpoint, tied to one checkpoint lineage like every
foreachBatch sink in this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.streaming.compact_stream import epoch_dirs, epoch_path


def record_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    ledger_dir: str,
    epoch_id: int = 0,
    id_col: str = "doc_id",
) -> None:
    """One micro-batch body: overwrite this epoch's partition with the
    batch's distinct doc ids — replay-idempotent, crash-healing, and
    write-order independent of the sibling index/pairs sinks."""
    batch_docs.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).dropDuplicates().write.mode("overwrite").parquet(
        epoch_path(ledger_dir, epoch_id)
    )


def retained_docs(
    spark: SparkSession,
    ledger_dir: str,
    keep_epochs: int | None = None,
    min_epoch: int | None = None,
) -> DataFrame | None:
    """The retention window as the (doc_id) frame compact_band_index
    takes: keep the ``keep_epochs`` highest committed epochs, or every
    epoch >= ``min_epoch`` (exactly one selector must be given). A doc
    re-ingested in a retained epoch is retained even if it first
    arrived in an evicted one (ledger rows are per-epoch, the window
    semi-join keeps the union). Returns None when the ledger is empty —
    compaction's "keep everything" convention."""
    if (keep_epochs is None) == (min_epoch is None):
        raise ValueError("give exactly one of keep_epochs / min_epoch")
    dirs = epoch_dirs(ledger_dir)
    if not dirs:
        return None
    if keep_epochs is not None:
        if keep_epochs < 1:
            raise ValueError("keep_epochs must be >= 1")
        keep = list(dirs)[-keep_epochs:]
    else:
        keep = [e for e in dirs if e >= min_epoch]
        if not keep:
            return spark.range(0).select(F.col("id").alias("doc_id"))
    return (
        spark.read.option("basePath", ledger_dir)
        .parquet(*[dirs[e] for e in keep])
        .select("doc_id")
        .dropDuplicates()
    )


def ledger_sink(spark: SparkSession, ledger_dir: str, id_col: str = "doc_id"):
    """foreachBatch callable wiring record_batch into a document stream
    (run alongside dedup_sink over the same source so the ledger and the
    band index advance on the same epochs)."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        record_batch(spark, batch, ledger_dir, epoch_id, id_col)

    return process
