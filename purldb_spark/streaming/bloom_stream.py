"""Streaming face of the Bloom dedup gate (plans/q_bloom.py): new
documents arrive as a stream, each micro-batch probes the PERSISTENT bit
table (all k md5-derived positions set -> ``maybe_dup``), decisions are
appended, and the batch's own bits are folded into the table.

This is the deployment shape of the gate: the batch query
(``dedup_bloom``) proves the membership math against the DuckDB oracle;
this module is how it RUNS in front of the heavier dedup joins — a
constant-size (<= m rows) state table probed map-side per batch, the
cheapest possible "have I seen this before" filter.

Replay idempotence rides the determinism, like dedup_stream: positions
are pure md5 functions of the text, the bit append anti-joins positions
already present, and decisions anti-join on doc_id — a crashed and
re-run micro-batch recomputes identical bits and writes nothing twice.

At 100 TB the bit table is STILL <= m rows (production sizes m for the
expected key count and target FP rate: m = -n*ln(p)/ln(2)^2 — and packs
it into longs; the relational row form here keeps it joinable and
oracle-checkable), so per-batch cost is O(batch) with a broadcast-sized
build side — state never grows with corpus size, unlike the band index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans.q_bloom import _K, _M, _bucket_spark
from purldb_spark.streaming.compact_stream import append_unseen


def _positions(docs: DataFrame) -> DataFrame:
    """(doc_id, b): the k bit positions of each document's text."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.expr(_bucket_spark(j)) for j in range(_K)])
        ).alias("b"),
    )


def bloom_gate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    bits_dir: str,
    decisions_dir: str,
) -> None:
    """One micro-batch body: probe the stored bit table, append one
    decision row per document (``maybe_dup`` = all k positions already
    set), then fold the batch's new bits in (idempotent via anti-joins)."""
    pos = _positions(batch_docs).localCheckpoint(eager=True)

    if os.path.isdir(bits_dir):
        bits = spark.read.parquet(bits_dir)
        hits = (
            pos.join(F.broadcast(bits), "b", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("nhit"))
        )
        decisions = batch_docs.join(hits, "doc_id", "left").select(
            "doc_id",
            (F.coalesce(F.col("nhit"), F.lit(0)) == _K).alias("maybe_dup"),
        )
    else:
        decisions = batch_docs.select(
            "doc_id", F.lit(False).alias("maybe_dup")
        )

    append_unseen(spark, decisions, decisions_dir, ["doc_id"])
    append_unseen(spark, pos.select("b").dropDuplicates(), bits_dir, ["b"])


def bloom_sink(spark: SparkSession, bits_dir: str, decisions_dir: str):
    """foreachBatch callable wiring bloom_gate_batch into a streaming
    query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        bloom_gate_batch(spark, batch, bits_dir, decisions_dir)

    return process
