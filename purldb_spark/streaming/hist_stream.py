"""Streaming face of the fixed-width histogram sketch (plans/q_sketch.py::
sketch_histogram_quantiles / sketch_histogram_merge): events arrive as a
stream, each micro-batch computes ITS OWN per-bin count table (the same
cent/bin arithmetic the batch queries prove against the DuckDB oracle) and
lands it as a batch-id-keyed PARTIAL; the live histogram is the cell-wise
SUM of the partials, and any quantile reads off it exactly as the batch
query does.

State taxonomy: like CMS, histogram bin counts are additive — commutative
but NOT idempotent (a replayed SUM double-counts) — so replay safety is
WRITE idempotence: each epoch overwrites its own ``batch=<epoch_id>``
partition with a bounded partial (<= bins rows, map-side combined inside
the batch). sketch_histogram_merge is the BATCH-SIDE proof of exactly this
merge law (daily shards summed cell-wise == the direct build), engine- and
oracle-checked; this module is the same law running as maintenance.

At 100 TB the stored state is epochs x bins rows; compaction may re-sum
old partials into one partition at any time without changing any estimate
(addition is associative). Streamed bin totals == the one-shot batch build
over the union of all batches, in any epoch order, with replays no-ops
(pinned by tests/test_hist_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans.q_sketch import _HQ_BIN_CENTS
from purldb_spark.streaming.compact_stream import epoch_path


def hist_bins(batch_events: DataFrame) -> DataFrame:
    """One micro-batch's (bin, cnt) table — the identical cent/bin
    arithmetic of the batch queries, collapsed to <= bins rows."""
    return (
        batch_events.select(
            F.expr(
                f"cast(round(value * 100) as bigint) div {_HQ_BIN_CENTS}"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hist_merge_batch(
    spark: SparkSession,
    batch_events: DataFrame,
    partials_dir: str,
    epoch_id: int,
) -> None:
    """One micro-batch body: write this epoch's bounded partial under its
    OWN partition (overwrite). A replayed epoch recomputes the same bins
    -> same rows -> same partition: idempotent by construction."""
    partial = hist_bins(batch_events).localCheckpoint(eager=True)
    partial.write.mode("overwrite").parquet(epoch_path(partials_dir, epoch_id))


def hist_total(spark: SparkSession, partials_dir: str) -> DataFrame:
    """The live histogram: cell-wise SUM over the stored partials."""
    return (
        spark.read.parquet(partials_dir)
        .groupBy("bin")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def quantile_upper_edges(
    hist: DataFrame, n: int, pcts: tuple[int, ...]
) -> DataFrame:
    """(pct, est_hi_cents) one-sided quantile estimates off a (bin, cnt)
    histogram — the batch queries' cumulative-walk/threshold-explode
    shape (no non-equi join), shared so the streaming face answers
    quantiles with the identical expression."""
    from pyspark.sql.window import Window

    ranks = {p: (p * n + 99) // 100 for p in pcts}
    rk_pairs = ", ".join(
        f"struct({p}L as pct, {rk}L as rk)" for p, rk in ranks.items()
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return (
        cum.select(
            "bin", "cum", F.explode(F.expr(f"array({rk_pairs})")).alias("pr")
        )
        .filter(F.col("cum") >= F.col("pr.rk"))
        .groupBy(F.col("pr.pct").alias("pct"))
        .agg(
            ((F.min("bin") + 1) * _HQ_BIN_CENTS - 1)
            .cast("long")
            .alias("est_hi_cents")
        )
    )


def hist_sink(spark: SparkSession, partials_dir: str):
    """foreachBatch callable wiring hist_merge_batch into a stream."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        hist_merge_batch(spark, batch, partials_dir, epoch_id)

    return process
