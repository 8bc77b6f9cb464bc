"""Streaming face of the Count-Min frequency sketch (plans/q_sketch.py::
sketch_cms_topk): documents arrive as a stream, each micro-batch computes
ITS OWN d x w cell table (the same salted-md5 expression the batch query
proves against the DuckDB oracle) and lands it as a batch-id-keyed
PARTIAL; the live sketch is the cell-wise SUM of the partials.

This completes the streaming-state catalogue across the sketch family:

  * HLL registers / KMV synopsis -> idempotent monoid (MAX / bottom-k of
    union): merge in place, replay free;
  * CMS counters -> additive, commutative but NOT idempotent (a replayed
    SUM double-counts), so replay safety comes from WRITE idempotence —
    each epoch overwrites its own `batch=<epoch_id>` partition with a
    <= d x w-row partial, the same exactly-once foreachBatch recipe as
    the interval-join aggregate (streaming/interval_stream.py).

At 100 TB each partial is <= d x w rows (32 here) regardless of batch
size — map-side combine does all the heavy counting inside the batch —
and the stored state is batches x 32 rows; a maintenance compaction can
re-sum old partials into one partition at any time without changing any
estimate (addition is associative). Streamed cell totals == the one-shot
batch build over the union of all batches (pinned by
tests/test_cms_stream.py), in any epoch order, with replays no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans.q_sketch import _CMS_COL_SPARK, _CMS_D
from purldb_spark.streaming.compact_stream import epoch_path


def cms_cells(batch_docs: DataFrame) -> DataFrame:
    """One micro-batch's d x w cell table (j, col, cnt) — the identical
    token fan-out + salted-column algebra of the batch query, collapsed
    to <= d*w rows by the groupBy."""
    toks = batch_docs.select(
        F.explode(F.split("text", " ")).alias("wd")
    ).filter(F.col("wd") != "")
    fan = toks.select(
        "wd", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("j")
    )
    return (
        fan.select(
            "j", F.expr(_CMS_COL_SPARK.format(j="j", w="wd")).alias("col")
        )
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    partials_dir: str,
    epoch_id: int,
) -> None:
    """One micro-batch body: write this epoch's <= d x w-row partial under
    its OWN partition (overwrite). A replayed epoch recomputes the same
    cells -> same rows -> same partition: idempotent by construction."""
    partial = cms_cells(batch_docs).localCheckpoint(eager=True)
    # plain-parquet caveat as everywhere in this package: production state
    # tables use a transactional format; recovery here re-runs one epoch.
    partial.write.mode("overwrite").parquet(epoch_path(partials_dir, epoch_id))


def cms_cells_total(spark: SparkSession, partials_dir: str) -> DataFrame:
    """The live sketch: cell-wise SUM over the stored partials (addition
    is the merge — associative and commutative, so partition discovery
    order is irrelevant; the `batch` column folds away)."""
    return (
        spark.read.parquet(partials_dir)
        .groupBy("j", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_sink(spark: SparkSession, partials_dir: str):
    """foreachBatch callable wiring cms_merge_batch into a streaming
    query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        cms_merge_batch(spark, batch, partials_dir, epoch_id)

    return process
