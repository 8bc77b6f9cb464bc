"""Incremental shot segmentation stream — the 19th streaming face: as
keyframe rows arrive per video, extend each video's shot chain without
recomputing it, producing the same assignments the batch chain
(plans/q_container.mm_shot_segmentation) produces over the full corpus.

State taxonomy: keyed SEQUENTIAL fold — a new shape in the catalogue.
The ledgers (bloom/media) are idempotent appends, the sketch/NB/k-means
shards are commutative monoids; a shot chain is neither: boundary k
depends on frame k-1's signature, so state per media is the chain's
frontier (last_sample_no, last_sig_e3, shots_so_far) and folding is
ORDER-SENSITIVE. The stream therefore carries an in-order delivery
contract per media (frames come off a demuxer in sample order; within a
micro-batch any order is fine — the chain sorts), and a frame older
than the frontier is DROPPED as a replay artifact, never re-folded —
re-folding would double-count a boundary (pinned by test).

Exactly-once without re-fold: assignments land in an epoch-partitioned
table (overwrite = replay-idempotent while state hasn't advanced), and
the state snapshot records last_epoch. A replay of an epoch <= the
snapshot's watermark is a NO-OP (skip, don't clobber its partition with
the empty recompute); a replay after a crash BEFORE the snapshot swap
recomputes from the same frontier and overwrites its partition with
identical rows. Snapshot swap is the generation-pointer + writer-flock
protocol every persistent index here uses (compact_stream); the write
holds the flock across resolve->write (the nb_stream r14 advice rule).

At 100 TB: per batch, ONE bounded shuffle by media_id (chain window)
plus a broadcast-size state join — state is one row per ACTIVE video,
not per frame; assignments append map-side. Driver traffic is zero.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.streaming.compact_stream import (
    epoch_path,
    prune_generations,
    publish_generation,
    table_path,
    writer_lock,
)

BOUNDARY_E3 = 64000  # same jump threshold as the batch chain


def _assign_root(stats_dir: str) -> str:
    return os.path.join(stats_dir, "assignments")


_STATE_SCHEMA = (
    "media_id long, last_sample_no long, last_sig_e3 long, "
    "shots_so_far long, last_epoch long"
)


def _read_state(spark: SparkSession, stats_dir: str) -> DataFrame:
    root = table_path(stats_dir, "state")
    if os.path.isdir(root):
        return spark.read.parquet(root)
    return spark.createDataFrame([], _STATE_SCHEMA)


def extend_shot_chains(
    batch: DataFrame, state: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Pure chain extension: (new assignment rows, updated state).

    The batch's frames join the per-media frontier (broadcast — state is
    one row per active video), frames at or behind the frontier drop,
    and one window per media computes lag/boundary/running-shot exactly
    like the batch chain, except the first in-batch frame compares
    against the frontier's signature and shot ids offset by
    shots_so_far."""
    from pyspark.sql import Window

    frontier = state.select(
        "media_id", "last_sample_no", "last_sig_e3", "shots_so_far"
    )
    fresh = (
        batch.select("media_id", "sample_no", "ts_ms", "sig_e3")
        .join(F.broadcast(frontier), "media_id", "left")
        .filter(
            F.col("last_sample_no").isNull()
            | (F.col("sample_no") > F.col("last_sample_no"))
        )
    )
    w = Window.partitionBy("media_id").orderBy("sample_no")
    chained = (
        fresh.withColumn(
            "prev_sig",
            F.coalesce(F.lag("sig_e3").over(w), F.col("last_sig_e3")),
        )
        .withColumn(
            "boundary",
            F.when(F.col("prev_sig").isNull(), F.lit(1))
            .when(
                F.abs(F.col("sig_e3") - F.col("prev_sig")) > BOUNDARY_E3,
                F.lit(1),
            )
            .otherwise(F.lit(0)),
        )
        .withColumn(
            "shot_id",
            F.coalesce(F.col("shots_so_far"), F.lit(0))
            + F.sum("boundary").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    assignments = chained.select(
        "media_id", "sample_no", "ts_ms", "sig_e3", "shot_id"
    )
    last = Window.partitionBy("media_id").orderBy(F.desc("sample_no"))
    new_frontier = (
        chained.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select(
            "media_id",
            F.col("sample_no").alias("last_sample_no"),
            F.col("sig_e3").alias("last_sig_e3"),
            F.col("shot_id").alias("shots_so_far"),
        )
    )
    untouched = state.join(
        new_frontier.select("media_id"), "media_id", "left_anti"
    ).select("media_id", "last_sample_no", "last_sig_e3", "shots_so_far")
    new_state = untouched.unionByName(new_frontier)
    return assignments, new_state


def segment_shots_batch(
    spark: SparkSession,
    batch: DataFrame,
    stats_dir: str,
    epoch_id: int = 0,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body: skip epochs at or behind the snapshot's
    watermark (their assignments already landed — recomputing against
    the ADVANCED frontier would clobber them with an empty partition),
    else extend the chains, overwrite this epoch's assignment partition,
    snapshot the new state with the watermark, swap generations."""
    with writer_lock(stats_dir, timeout=lock_timeout):
        state = _read_state(spark, stats_dir)
        wm_row = state.agg(F.max("last_epoch").alias("wm")).collect()[0]
        watermark = wm_row["wm"] if wm_row["wm"] is not None else -1
        if epoch_id <= watermark:
            return
        assignments, new_state = extend_shot_chains(
            batch, state.drop("last_epoch")
        )
        # materialize BEFORE the swap so both writes see one computation
        assignments = assignments.localCheckpoint(eager=True)
        new_state = new_state.localCheckpoint(eager=True)
        assignments.write.mode("overwrite").parquet(
            epoch_path(_assign_root(stats_dir), epoch_id)
        )
        publish_generation(
            stats_dir,
            lambda gen_root: new_state.withColumn(
                "last_epoch", F.lit(int(epoch_id)).cast("long")
            ).write.mode("overwrite").parquet(os.path.join(gen_root, "state")),
        )
        # the old state generation is dead after the swap; the root-level
        # assignments table is no generation's and stays
        prune_generations(stats_dir)


def current_assignments(spark: SparkSession, stats_dir: str) -> DataFrame:
    """Every frame->shot assignment folded so far (epoch partitions are
    disjoint by the frontier filter, so this is a plain union)."""
    root = _assign_root(stats_dir)
    return spark.read.option("basePath", root).parquet(root)


def current_shots(spark: SparkSession, stats_dir: str) -> DataFrame:
    """Per-shot rollup of the streamed chain — the same shape as the
    batch mm_shot_segmentation output. OPEN shots (a video still
    streaming) extend on later epochs; rollup rows are a view over the
    assignments, not stored state, so they never need repair."""
    return (
        current_assignments(spark, stats_dir)
        .groupBy("media_id", "shot_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min("sample_no").alias("start_sample"),
            F.max("sample_no").alias("end_sample"),
            F.min("ts_ms").alias("start_ts_ms"),
            F.max("ts_ms").alias("end_ts_ms"),
        )
    )


def shot_sink(spark: SparkSession, stats_dir: str):
    """foreachBatch body for a Structured Streaming writeStream of
    (media_id, sample_no, ts_ms, sig_e3) keyframe rows."""

    def body(batch: DataFrame, epoch_id: int) -> None:
        segment_shots_batch(spark, batch, stats_dir, epoch_id=epoch_id)

    return body
