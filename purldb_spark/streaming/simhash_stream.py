"""Streaming face of incremental SimHash dedup — the hamming-verified
sibling of dedup_stream (which is MinHash + exact-jaccard verified).

With this module every registry dedup method has a production streaming
face: exact (dedup_stream's md5 pre-collapse), MinHash+LSH
(dedup_stream), SimHash (here), Bloom gate (bloom_stream), embedding
LSH (ann_stream). The batch query dedup_simhash proves the 120-bit
fingerprint math against the DuckDB oracle (plans/q_dedup.py); this is
how it RUNS incrementally: per micro-batch, fingerprint the new docs
(operators/simhash_wide — 4 x 30-bit pigeonhole bands over two 60-bit
halves), equi-join their band keys against the PERSISTENT banded
fingerprint index, verify candidates with the exact two-term
bit_count(xor) hamming, append decisions and the batch's rows.

The stored table is the BANDED layout (doc_id, band_idx, band_key,
sim_lo, sim_hi — 4 rows per doc, fingerprint inlined): the per-batch
probe is then ONE equi-join on (band_idx, band_key) with the hamming
verify reading both fingerprints off the joined row, no second lookup.
At 100 TB the table is hash-partitioned by band_key and a batch costs
O(batch x band collision rate) — same contract as dedup_stream, with
the 30-bit bands keeping random collisions linear to N ~ 10^9-10^10
(the r11 width upgrade this face inherits).

Within-batch near-dups pair too: each batch's bands self-join
(new_id > index_id, as if the smaller id were indexed first) before the
cross-index probe, so co-arriving duplicates are not permanently missed
by the replay/seen anti-joins (r12 ADVICE).

Idempotence is the dedup_stream recipe verbatim: appends anti-join the
docs already indexed, decisions anti-join (new_id, index_id) already
seen — a replayed batch re-derives identical fingerprints and writes
nothing. Writes serialize on the same per-directory writer lease
(compact_stream.writer_lock), and reads/appends resolve through the
generation pointer (compact_stream.table_path), so compaction +
ledger-owned retention ARE the same protocol:
compact_stream.compact_simhash_index rewrites simbands as a fresh
band-key-clustered generation and swaps CURRENT atomically (r13).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.dedup import word_shingles
from purldb_spark.operators.simhash_wide import band_exprs, simhash_wide
from purldb_spark.streaming.compact_stream import (
    append_unseen,
    table_path,
    writer_lock,
)


def batch_fingerprints(batch_docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) for one micro-batch, from the SAME
    features the batch query uses (3-word shingles as tokens)."""
    toks = word_shingles(
        batch_docs.filter(F.col("text").isNotNull()), "doc_id", "text", n=3
    ).withColumnRenamed("sh", "tok")
    return simhash_wide(toks, "doc_id")


def _banded(sim: DataFrame) -> DataFrame:
    return sim.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.explode(F.array(*band_exprs())).alias("band"),
    ).select("doc_id", "sim_lo", "sim_hi", "band.band_idx", "band.band_key")


def index_simhash_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    max_hamming: int = 3,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body (module docstring). Decisions carry
    (new_id, index_id, hamming)."""
    bands_new = _banded(batch_fingerprints(batch_docs)).localCheckpoint(
        eager=True  # one fingerprint aggregation; probe + append uses
    )
    with writer_lock(index_dir, timeout=lock_timeout):
        # resolve through the generation pointer so a post-compaction
        # batch reads AND appends the compacted generation
        bands_path = table_path(index_dir, "simbands")
        if os.path.isdir(bands_path):
            idx = spark.read.parquet(bands_path)
            indexed = idx.select("doc_id").dropDuplicates()
            # replay guard BEFORE any pair probe: already-indexed docs
            # contribute no new pairs (their pairs landed last time)
            bands_new = bands_new.join(indexed, "doc_id", "left_anti")
        else:
            idx = None

        a = bands_new.alias("a")
        hamming = (
            F.expr("bit_count(a.sim_lo ^ b.sim_lo)")
            + F.expr("bit_count(a.sim_hi ^ b.sim_hi)")
        ).cast("long")
        # WITHIN-batch near-dups (r12 ADVICE): two docs arriving in the
        # same micro-batch would otherwise never pair — both get indexed
        # this epoch, and the replay/seen anti-joins make the miss
        # permanent. Self-join the batch's own bands; orient as
        # (new_id=max, index_id=min), as if the smaller id were indexed
        # first, matching the cross-batch decision shape.
        w = bands_new.alias("b")
        within = (
            a.join(
                w,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
                "inner",
            )
            .select(
                F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("index_id"),
                hamming.alias("hamming"),
            )
        )
        pairs = within
        if idx is not None:
            b = idx.alias("b")
            cross = (
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")),
                    "inner",
                )
                .select(
                    F.col("a.doc_id").alias("new_id"),
                    F.col("b.doc_id").alias("index_id"),
                    hamming.alias("hamming"),
                )
            )
            pairs = pairs.unionByName(cross)
        pairs = (
            pairs.filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["new_id", "index_id"])
        )
        append_unseen(spark, pairs, pairs_dir, ["new_id", "index_id"])

        bands_new.write.mode("append").parquet(bands_path)


def simhash_sink(spark: SparkSession, index_dir: str, pairs_dir: str):
    """foreachBatch callable wiring index_simhash_batch into a stream."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        index_simhash_batch(spark, batch, index_dir, pairs_dir)

    return process
