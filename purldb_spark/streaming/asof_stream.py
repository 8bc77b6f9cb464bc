"""Streaming face of the AS-OF join (plans/q_joins.py::j14_asof_join): the
Flink-style event-time temporal join. Events arrive in micro-batches; a
persistent LAST-VIEW-PER-USER table is the temporal state, each batch's
clicks resolve against (stored state ∪ this batch's earlier views) with
the batch query's exact window algebra, and the state folds the batch's
views in by per-user argmax.

Why this is the production shape: the batch query re-sorts the full
history per run; the stream keeps ONE row per user (the temporal table of
a Flink `FOR SYSTEM_TIME AS OF` join) and each micro-batch pays only
O(batch + matched users). The state update is an idempotent commutative
monoid — argmax by (view_us, view_event_id), the same total order the
batch query's window uses as tie-break — so a replayed batch merges the
same maxima and changes nothing (plus the decisions ledger anti-joins on
click_event_id, the funnel/bloom convention).

Streamed == batch equivalence (pinned by tests/test_asof_stream.py) holds
when batches respect event-time order per user — the watermark contract.
A LATE view (arriving after a click with a later timestamp was already
decided) does NOT rewrite history: the decision ledger is append-only,
which is exactly the emit-at-arrival semantics a production temporal join
has under watermark violation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from purldb_spark.streaming.compact_stream import append_unseen


def _tagged(batch_events: DataFrame) -> DataFrame:
    """j14's union-tag projection for one micro-batch."""
    ev = batch_events.filter(F.col("event_type").isin("view", "click"))
    is_view = F.col("event_type") == "view"
    return ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.when(is_view, F.lit(0)).otherwise(F.lit(1)).alias("side"),
        F.when(is_view, F.col("event_id")).alias("v_id"),
        F.when(is_view, F.unix_micros(F.col("ts").cast("timestamp"))).alias(
            "v_us"
        ),
    )


def asof_join_batch(
    spark: SparkSession,
    batch_events: DataFrame,
    state_dir: str,
    decisions_dir: str,
) -> None:
    """One micro-batch body: resolve this batch's clicks against the
    stored last-view state plus the batch's own earlier views (one window
    pass — the batch query's algebra with the state injected as seed
    rows), append decisions, fold the batch's views into the state."""
    tagged = _tagged(batch_events).localCheckpoint(eager=True)

    rows = tagged
    if os.path.isdir(state_dir):
        seed = spark.read.parquet(state_dir).select(
            "user_id",
            F.col("view_us").alias("us"),
            F.col("view_event_id").alias("event_id"),
            F.lit(0).alias("side"),
            F.col("view_event_id").alias("v_id"),
            F.col("view_us").alias("v_us"),
        )
        rows = seed.unionByName(tagged)

    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    decisions = (
        rows.select(
            "user_id",
            "us",
            "event_id",
            "side",
            F.last("v_id", ignorenulls=True).over(w).alias("view_event_id"),
            F.last("v_us", ignorenulls=True).over(w).alias("view_us"),
        )
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("us").alias("click_us"),
            "view_event_id",
            "view_us",
            (F.col("us") - F.col("view_us")).alias("gap_us"),
        )
    )
    append_unseen(spark, decisions, decisions_dir, ["click_event_id"])

    # state <- per-user argmax over (stored ∪ batch views) by the window's
    # own total order (us, event_id); idempotent, so replay needs no ledger
    views = tagged.filter(F.col("side") == 0).select(
        "user_id",
        F.col("v_id").alias("view_event_id"),
        F.col("v_us").alias("view_us"),
    )
    if os.path.isdir(state_dir):
        views = spark.read.parquet(state_dir).unionByName(views)
    ws = Window.partitionBy("user_id").orderBy(
        F.desc("view_us"), F.desc("view_event_id")
    )
    new_state = (
        views.withColumn("rn", F.row_number().over(ws))
        .filter("rn = 1")
        .drop("rn")
        .localCheckpoint(eager=True)  # materialize before overwriting source
    )
    # plain-parquet overwrite is NOT crash-atomic; production temporal
    # state lives in a transactional format (Delta/Iceberg). The argmax
    # monoid makes recovery a re-merge of any recent batches, but only a
    # transactional write removes the loss window (hll_stream note).
    new_state.write.mode("overwrite").parquet(state_dir)


def asof_sink(spark: SparkSession, state_dir: str, decisions_dir: str):
    """foreachBatch callable wiring asof_join_batch into a streaming
    query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        asof_join_batch(spark, batch, state_dir, decisions_dir)

    return process
