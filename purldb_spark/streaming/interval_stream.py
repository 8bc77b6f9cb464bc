"""Streaming face of the INTERVAL (range) join
(plans/q_joins.py::j15_interval_bin_join): facts arrive as a stream, the
interval dimension is broadcastable state, and the per-brand aggregate is
maintained as batch-id-keyed PARTIALS — the third state pattern in this
package's streaming catalogue:

  * bloom/funnel  -> anti-join ledger (non-idempotent event effects),
  * hll/as-of     -> idempotent monoid merge (MAX / argmax),
  * interval agg  -> SUM partials keyed by epoch id (sums are commutative
    but NOT idempotent, so replay safety comes from WRITE idempotence:
    each micro-batch overwrites ITS OWN partition, `batch=<epoch_id>`,
    and a replayed epoch rewrites identical rows — Structured Streaming's
    documented exactly-once recipe for foreachBatch sinks).

Per micro-batch: the batch's facts bin with one integer division, join
the broadcast exploded-bin interval table (j15's algebra verbatim — an
equi-join on bin + exact BETWEEN re-check; never a BNLJ), and collapse to
a |brands|-row partial. State after N batches is |brands| x N rows;
totals are one SUM over the partials, and a maintenance compaction
re-summing old partials into one partition keeps the table bounded
forever. Streamed totals == the one-shot batch aggregate over the union
of all batches (pinned by tests/test_interval_stream.py), in any batch
order, with replays being no-ops.

At 100 TB the interval dimension stays thousands of rows (|brands| x
span/bin_width after the explode — always broadcastable), each batch is
map-only against its own scan plus one |brands|-row shuffle, and the
partials table never stores fact rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans.q_joins import _BIN_CENTS
from purldb_spark.streaming.compact_stream import epoch_path


def interval_bins(part: DataFrame) -> DataFrame:
    """The broadcastable interval state: per-brand [min, max] retail-price
    intervals in integer cents, exploded to the fixed-width bins each
    covers (j15's dimension build — one row per (brand, bin))."""
    iv = part.groupBy("p_brand").agg(
        F.expr("cast(round(min(p_retailprice) * 100) as bigint)").alias(
            "lo_c"
        ),
        F.expr("cast(round(max(p_retailprice) * 100) as bigint)").alias(
            "hi_c"
        ),
    )
    return iv.select(
        "p_brand",
        "lo_c",
        "hi_c",
        F.explode(
            F.expr(f"sequence(lo_c div {_BIN_CENTS}, hi_c div {_BIN_CENTS})")
        ).alias("bin"),
    )


def interval_partial(batch_facts: DataFrame, iv_bins: DataFrame) -> DataFrame:
    """One micro-batch's |brands|-row partial aggregate: bin each fact
    (integer division), equi-join the broadcast bins, exact BETWEEN
    re-check, groupBy brand. Identical column algebra to the batch query
    so streamed totals can be compared 1:1."""
    fact = batch_facts.select(
        "l_quantity",
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias(
            "price_c"
        ),
    ).withColumn("bin", F.expr(f"price_c div {_BIN_CENTS}"))
    joined = fact.join(F.broadcast(iv_bins), "bin").filter(
        (F.col("price_c") >= F.col("lo_c"))
        & (F.col("price_c") <= F.col("hi_c"))
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.coalesce(F.sum(F.col("l_quantity").cast("long")), F.lit(0))
        .cast("long")
        .alias("sum_qty"),
        F.coalesce(F.sum("price_c"), F.lit(0))
        .cast("long")
        .alias("sum_price_cents"),
    )


def interval_merge_batch(
    spark: SparkSession,
    batch_facts: DataFrame,
    iv_bins: DataFrame,
    partials_dir: str,
    epoch_id: int,
) -> None:
    """One micro-batch body: write this epoch's partial under its OWN
    partition directory (overwrite). A replayed epoch recomputes the same
    batch -> same rows -> same partition: idempotent by construction, no
    ledger. Other epochs' partitions are never touched."""
    partial = interval_partial(batch_facts, iv_bins).localCheckpoint(
        eager=True
    )
    # plain-parquet overwrite of the single partition dir is the same
    # non-crash-atomic caveat as hll_stream: production uses Delta/Iceberg
    # or staging+rename; recovery here is re-running the one epoch.
    partial.write.mode("overwrite").parquet(epoch_path(partials_dir, epoch_id))


def interval_totals(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Fold the stored partials to the batch query's exact output shape
    (sums of counts/sums are the trivial monoid; partition discovery
    surfaces `batch` which the fold drops)."""
    partials = spark.read.parquet(partials_dir)
    return partials.groupBy("p_brand").agg(
        F.sum("n_matches").cast("long").alias("n_matches"),
        F.sum("sum_qty").cast("long").alias("sum_qty"),
        F.sum("sum_price_cents").cast("long").alias("sum_price_cents"),
    )


def interval_sink(spark: SparkSession, iv_bins: DataFrame, partials_dir: str):
    """foreachBatch callable wiring interval_merge_batch into a streaming
    query; `iv_bins` is the (slowly-changing) broadcast dimension, passed
    in once like the bloom gate's filter state."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        interval_merge_batch(spark, batch, iv_bins, partials_dir, epoch_id)

    return process
