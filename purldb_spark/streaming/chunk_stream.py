"""Streaming face of retrieval chunking (plans/q_chunk.py): documents
arrive as a stream; each micro-batch is chunked with the SAME window
arithmetic as the batch queries, appended to a persistent chunk index, and
the batch's EMBED WORKLIST — chunks whose content hash has never been seen
before — is emitted for the embedding stage.

This is the maintenance loop of a retrieval / embedding-cache pipeline:
the batch queries (text_chunk_windows, chunk_shared_across_docs) prove the
chunk math against the DuckDB oracle; this module is how it RUNS. State
taxonomy (the repo's streaming-state catalogue): the chunk index is a
LEDGER of deterministic rows, and BOTH sinks use the epoch-partial recipe
(hist_stream's) — each epoch OVERWRITES its own ``batch=<epoch_id>``
partition of the chunk ledger and of the worklist. That, not appends, is
what makes the exactly-once claim survive a crash between the two writes
(ADVICE r10): two plain appends are not atomic together, so a crash
between them either replayed duplicate worklist rows (worklist-first) or
permanently dropped a doc's remaining chunks behind the doc-grain
anti-join (ledger-first, partially committed). With per-epoch overwrite a
replayed epoch recomputes the identical rows — the dedup guards read the
ledger EXCLUDING the epoch's own (possibly partial) partition — and
rewrites both partitions in place: duplicates impossible, partial writes
self-healing, write order irrelevant. The epoch ids come from the
streaming checkpoint, so the dirs are tied to one checkpoint lineage
(resetting the checkpoint without clearing the dirs re-uses epoch keys —
the same contract as every foreachBatch sink in this package).

At 100 TB the index is a parquet/Delta table partitioned by
hash(chunk_md5); per-batch cost is O(batch chunks) for the fan-out plus
one anti-join against the md5 partition slice each batch key hashes into —
independent of corpus size. The embedding stage downstream only ever
computes vectors for worklist rows, which is the entire point: re-ingested
or boilerplate-heavy documents cost no embedding compute for chunks the
cache already holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.streaming.compact_stream import epoch_dirs, epoch_path


def chunk_batch(batch_docs: DataFrame) -> DataFrame:
    """Chunk one micro-batch with q_chunk's exact window arithmetic —
    (doc_id, chunk_idx, start_pos, chunk_len, chunk_md5, n_chunks)."""
    from purldb_spark.plans.q_chunk import _CHUNK, _LAST_IDX_SPARK, _STRIDE

    d = batch_docs.filter(F.col("text").isNotNull())
    sub = f"substring(text, cast(1 + i * {_STRIDE} as int), {_CHUNK})"
    return d.select(
        "doc_id",
        "text",
        F.explode(
            F.expr(f"sequence(0L, cast({_LAST_IDX_SPARK} as long))")
        ).alias("i"),
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        F.expr(f"cast(1 + i * {_STRIDE} as bigint)").alias("start_pos"),
        F.expr(f"cast(length({sub}) as bigint)").alias("chunk_len"),
        F.expr(f"md5({sub})").alias("chunk_md5"),
        F.expr(f"cast({_LAST_IDX_SPARK} + 1 as bigint)").alias("n_chunks"),
    )


def index_chunk_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    worklist_dir: str,
    epoch_id: int = 0,
) -> None:
    """One micro-batch body: chunk the new docs, drop docs already in
    OTHER epochs' ledger partitions (replay re-derives its own epoch's
    rows instead of anti-joining them away), derive the never-seen-md5
    worklist, and OVERWRITE this epoch's partition of both tables —
    idempotent and crash-safe without transactional appends (module
    docstring)."""
    chunks = chunk_batch(batch_docs)

    chunks_path = os.path.join(index_dir, "chunks")
    # the ledger is read EXCLUDING this epoch's own partition AT PATH
    # LEVEL: on a replay that partition may be a crash-truncated parquet
    # file, and a whole-tree read would fail in schema inference / footer
    # reads BEFORE a `batch != epoch` filter could prune it (and dedup
    # against its rows would drop rows the overwrite below is about to
    # restore). Listing batch=* dirs and reading only the others never
    # touches the suspect files; basePath keeps the partition column.
    other_parts = [
        p for ep, p in epoch_dirs(chunks_path).items() if ep != int(epoch_id)
    ]
    if other_parts:
        idx = spark.read.option("basePath", chunks_path).parquet(*other_parts)
        indexed_docs = idx.select("doc_id").dropDuplicates()
        chunks = chunks.join(indexed_docs, "doc_id", "left_anti")
        seen_md5 = idx.select("chunk_md5").dropDuplicates()
    else:
        seen_md5 = None

    chunks = chunks.localCheckpoint(eager=True)  # one fan-out, three uses

    # the embed worklist: first occurrence of each never-seen content hash
    # (within-batch dups collapse to their first (doc_id, chunk_idx) by
    # the deterministic min — so one batch can't schedule one vector twice)
    fresh = chunks
    if seen_md5 is not None:
        fresh = fresh.join(seen_md5, "chunk_md5", "left_anti")
    worklist = (
        fresh.groupBy("chunk_md5")
        .agg(
            F.min(F.struct("doc_id", "chunk_idx")).alias("_first"),
            F.min("chunk_len").cast("long").alias("chunk_len"),
        )
        .select(
            "chunk_md5",
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.chunk_idx").alias("chunk_idx"),
            "chunk_len",
        )
    )
    worklist.write.mode("overwrite").parquet(epoch_path(worklist_dir, epoch_id))
    chunks.write.mode("overwrite").parquet(epoch_path(chunks_path, epoch_id))


def chunk_sink(spark: SparkSession, index_dir: str, worklist_dir: str):
    """foreachBatch callable wiring index_chunk_batch into a stream."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        index_chunk_batch(spark, batch, index_dir, worklist_dir, epoch_id)

    return process
