"""Streaming face of the curation funnel (plans/q_select.py::
corpus_funnel_report): documents arrive as a stream, each micro-batch
runs the 4-gate cascade — language allowlist, word-count gate, mean
word-length gate, exact dedup — and appends one DECISION row per document
(all four gate booleans plus the admission conjunction). The funnel
dashboard is then a plain aggregation over the decisions table, so the
report stays exact under replay instead of drifting the way appended
per-batch counter rows would.

The dedup gate's state is the persistent ``seen`` hash table: every text
md5 that has EVER streamed through, first arrival wins — mirroring the
batch face's corpus-wide first-by-doc_id window (identical output when
batches arrive in doc_id order, which the test pins). Rejected-by-other-
gates documents still seed the hash table, exactly like the batch window
ranks over the whole corpus, so a later byte-identical copy of a
rejected document is still a dup.

Replay idempotence rides the same two anti-joins as bloom_stream/
dedup_stream: decisions anti-join on doc_id, hashes anti-join on the
hash — a crashed and re-run micro-batch recomputes identical booleans
and writes nothing twice.

At 100 TB: the gates are map-only column expressions; per-batch cost is
O(batch) plus one hash-key anti-join against the seen table (shuffle
keyed by md5 — the same key dedup_exact shuffles on, and the seen table
is the production-standard dedup ledger every incremental ingest
maintains anyway)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from purldb_spark.plans.q_select import (
    _FUN_LANGS,
    _FUN_MAX_MWL,
    _FUN_MAX_W,
    _FUN_MIN_MWL,
    _FUN_MIN_W,
)
from purldb_spark.streaming.compact_stream import append_unseen

# the batch face's allowlist tuple IS the streaming gate — a q_select edit
# can no longer desynchronize the two funnels (or the oracle, which derives
# its IN-list from the same tuple)
_LANGS = _FUN_LANGS


def _gated(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, h, g1, g2, g3, first_in_batch) — the map-only gates plus
    the within-batch first-arrival flag for the dedup gate."""
    n_words = F.size(F.split(F.col("text"), " "))
    mwl = F.length("text") - n_words + F.lit(1)
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        batch_docs.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("h"),
            F.col("lang").isin(*_LANGS).alias("g1"),
            ((n_words >= _FUN_MIN_W) & (n_words <= _FUN_MAX_W)).alias("g2"),
            (
                (F.lit(_FUN_MIN_MWL) * n_words <= mwl)
                & (mwl <= F.lit(_FUN_MAX_MWL) * n_words)
            ).alias("g3"),
        )
        .withColumn("first_in_batch", F.row_number().over(w) == 1)
    )


def funnel_gate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    seen_dir: str,
    decisions_dir: str,
) -> None:
    """One micro-batch body: gate every document, resolve the dedup gate
    against the persistent seen-hash table, append decisions, fold the
    batch's hashes into the table (all idempotent via anti-joins)."""
    g = _gated(batch_docs).localCheckpoint(eager=True)

    if os.path.isdir(seen_dir):
        seen = spark.read.parquet(seen_dir)
        dup = g.join(seen, "h", "left_semi").select("doc_id")
        g4 = g.join(dup, "doc_id", "left_anti").filter("first_in_batch")
    else:
        g4 = g.filter("first_in_batch")
    decisions = g.join(
        g4.select("doc_id", F.lit(True).alias("g4")), "doc_id", "left"
    ).select(
        "doc_id",
        "g1",
        "g2",
        "g3",
        F.coalesce(F.col("g4"), F.lit(False)).alias("g4"),
        (
            F.col("g1")
            & F.col("g2")
            & F.col("g3")
            & F.coalesce(F.col("g4"), F.lit(False))
        ).alias("admitted"),
    )

    append_unseen(spark, decisions, decisions_dir, ["doc_id"])
    append_unseen(spark, g.select("h").dropDuplicates(), seen_dir, ["h"])


def funnel_sink(spark: SparkSession, seen_dir: str, decisions_dir: str):
    """foreachBatch callable wiring funnel_gate_batch into a streaming
    query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        funnel_gate_batch(spark, batch, seen_dir, decisions_dir)

    return process


def funnel_report(spark: SparkSession, decisions_dir: str) -> DataFrame:
    """The 4-row funnel dashboard over everything streamed so far — the
    same conditional-sums + stack() unpivot as the batch face, computed
    from the decisions table so replays can never double-count."""
    d = spark.read.parquet(decisions_dir)
    # coalesced like the batch face: zeros, not nulls, before any decision
    # row has streamed through
    a = d.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.coalesce(F.sum(F.col("g1").cast("long")), F.lit(0))
        .cast("long")
        .alias("k1"),
        F.coalesce(F.sum((F.col("g1") & F.col("g2")).cast("long")), F.lit(0))
        .cast("long")
        .alias("k2"),
        F.coalesce(
            F.sum((F.col("g1") & F.col("g2") & F.col("g3")).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("k3"),
        F.coalesce(F.sum(F.col("admitted").cast("long")), F.lit(0))
        .cast("long")
        .alias("k4"),
    )
    return a.selectExpr(
        "stack(4,"
        " 1L, 'lang_allowlist', n0, k1,"
        " 2L, 'word_count', k1, k2,"
        " 3L, 'word_length', k2, k3,"
        " 4L, 'exact_dedup', k3, k4"
        ") as (stage, stage_name, n_in, n_kept)"
    )
