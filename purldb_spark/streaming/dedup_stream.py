"""Streaming face of incremental dedup: new documents arrive as a stream,
each micro-batch is checked against the PERSISTENT band index (one
equi-join per batch, operators/dedup.py::incremental_lsh_dedup), surviving
documents' band keys and shingle postings are appended to the index, and
detected duplicate pairs are appended to a decisions table.

EXACT-DUP PRE-COLLAPSE (r12): before any shingling, each batch collapses
identical texts — within the batch (min doc_id per md5 becomes the
representative) and against the stored (md5, rep_id) exact table of the
live generation. Collapsed docs emit a jaccard-1.0 decision pair to
their representative and NEVER reach the shingle/band stage, so each
distinct text is shingled, banded, and indexed exactly once. At 100 TB
this is the dominant saving: web-scale corpora run 30-50% exact dups,
and without the collapse every copy would pay the full fan-out AND
inflate its band buckets quadratically (k copies of one text = C(k,2)
band-join hits per band). Cluster semantics are unchanged: the
(dup, rep) edges put every copy in the representative's connected
component, and the component label stays the global min doc_id because
the label table sees every node (tests pin streamed == batch over
corpora WITH exact dups).

This is the production deployment shape of the dedup family: the batch
queries (dedup_minhash_lsh, dedup_incremental) prove the math against the
oracle; this module is how it RUNS — foreachBatch over a streaming source.
Every write is made idempotent by an anti-join against the keys already
present (docs for the index, (new_id, index_id) for decisions), so a
replayed micro-batch after a crash re-derives the same deterministic band
keys and writes nothing twice — the exactly-once guarantee rides the
deterministic hashing, not the sink.

At 100 TB the index is a parquet/Delta table partitioned by
hash(band_key); each micro-batch costs O(batch x collision rate)
regardless of corpus size — the property measured in BENCH_scale.md
(dedup_incremental row). The index itself is kept O(retention window),
not O(history), by the compaction/TTL maintenance face in
compact_stream.py (generation-pointer swap; reads and appends here
resolve through it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.dedup import (
    incremental_lsh_dedup,
    minhash_bands,
    verify_jaccard,
    word_shingles,
)
from purldb_spark.streaming.compact_stream import (
    append_unseen,
    exact_index_path,
    index_paths,
    writer_lock,
)


def index_new_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.5,
    lock_timeout: float = 60.0,
) -> None:
    """One micro-batch body: shingle + band the new docs, join against the
    stored band index, verify candidates exactly against the stored
    shingle postings, append decisions and the batch's keys (all appends
    idempotent via anti-joins on the natural keys).

    The whole resolve->read->append section holds compact_stream's
    :func:`writer_lock`: the generation pointer cannot swap between this
    batch resolving its paths and landing its appends, and a concurrent
    compaction cannot snapshot the old generation with this batch's
    appends still in flight (they would be silently dropped from the new
    generation). Appends are short, so the lock adds no steady-state
    stall; see compact_stream's module docstring for the 100 TB
    (table-format transaction) shape."""
    with writer_lock(index_dir, timeout=lock_timeout):
        # resolve through the generation pointer (compact_stream): appends
        # land in the live generation, so a post-compaction batch extends
        # the compacted index, not the superseded flat layout
        bands_path, sh_path = index_paths(index_dir)
        ex_path = exact_index_path(index_dir)

        # ---- exact-dup pre-collapse (module docstring) ----
        # null-text docs are dropped up front: md5(NULL) is NULL, and a
        # null group key would collapse every null-text doc in the batch
        # into one bogus "duplicate" cluster (they carried no shingles
        # and were silently inert before the collapse existed)
        docs = (
            batch_docs.select("doc_id", "text")
            .filter(F.col("text").isNotNull())
            .withColumn("md5", F.md5("text"))
            .localCheckpoint(eager=True)  # one scan, three uses
        )
        # within-batch: min doc_id per md5 is the representative
        batch_reps = docs.groupBy("md5").agg(F.min("doc_id").alias("rep_id"))
        in_batch_pairs = (
            docs.join(batch_reps, "md5")
            .filter(F.col("doc_id") != F.col("rep_id"))
            .select(
                F.col("doc_id").alias("new_id"),
                F.col("rep_id").alias("index_id"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        reps = docs.join(
            batch_reps.select(
                "md5", F.col("rep_id").alias("doc_id")
            ),
            ["md5", "doc_id"],
            "left_semi",
        )
        # cross-batch: a representative whose text is already indexed
        # collapses to the STORED representative; a replayed batch finds
        # ITSELF stored, the self-pair filters out, and nothing appends
        if os.path.isdir(ex_path):
            stored = spark.read.parquet(ex_path).select(
                "md5", F.col("rep_id").alias("stored_rep")
            )
            hits = reps.join(stored, "md5")
            cross_pairs = hits.filter(
                F.col("doc_id") != F.col("stored_rep")
            ).select(
                F.col("doc_id").alias("new_id"),
                F.col("stored_rep").alias("index_id"),
                F.lit(1.0).alias("jaccard"),
            )
            fresh = reps.join(stored, "md5", "left_anti")
            exact_pairs = in_batch_pairs.unionByName(cross_pairs)
        else:
            fresh = reps
            exact_pairs = in_batch_pairs

        # ---- near-dup path: only never-seen texts are shingled ----
        sh_new = word_shingles(fresh, "doc_id", "text", n=3)
        bands_new = minhash_bands(sh_new, "doc_id")

        have_index = os.path.isdir(bands_path)
        if have_index:
            bands_idx = spark.read.parquet(bands_path)
            sh_idx = spark.read.parquet(sh_path)
            # replay safety: drop docs already indexed before matching/
            # appending
            indexed_docs = bands_idx.select("doc_id").dropDuplicates()
            bands_new = bands_new.join(indexed_docs, "doc_id", "left_anti")
            sh_new = sh_new.join(indexed_docs, "doc_id", "left_anti")

            cands = incremental_lsh_dedup(bands_new, bands_idx, "doc_id")
            sh_all = sh_new.unionByName(sh_idx).dropDuplicates()
            near_pairs = verify_jaccard(
                cands.select(
                    F.col("new_id").alias("id_a"),
                    F.col("index_id").alias("id_b"),
                ),
                sh_all,
                "doc_id",
                threshold,
            ).select(
                F.col("id_a").alias("new_id"),
                F.col("id_b").alias("index_id"),
                "jaccard",
            )
            pairs = near_pairs.unionByName(exact_pairs)
        else:
            pairs = exact_pairs
        append_unseen(spark, pairs, pairs_dir, ["new_id", "index_id"])

        bands_new.write.mode("append").parquet(bands_path)
        sh_new.write.mode("append").parquet(sh_path)
        # the exact table gains one (md5, rep_id) row per never-seen text
        # (anti-joined above, so a replayed batch appends nothing twice)
        fresh.select("md5", F.col("doc_id").alias("rep_id")).write.mode(
            "append"
        ).parquet(ex_path)


def dedup_sink(spark: SparkSession, index_dir: str, pairs_dir: str):
    """foreachBatch callable wiring index_new_batch into a streaming query."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        index_new_batch(spark, batch, index_dir, pairs_dir)

    return process
