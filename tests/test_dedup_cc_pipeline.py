"""End-to-end wiring of the streaming dedup pipeline: documents stream
into the band index (dedup_stream), the detected near-dup PAIRS stream
into incremental connected components (cc_stream) — the production
topology both modules' docstrings describe — and the final cluster
labels equal the batch operators composed over all documents."""

from __future__ import annotations

from pyspark.sql import types as T

from purldb_spark.streaming.cc_stream import cc_sink, current_labels
from purldb_spark.streaming.dedup_stream import dedup_sink

DOC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

BASE = "the quick brown fox jumps over the lazy dog today and tomorrow"
BATCHES = [
    [(1, BASE), (9, "completely unrelated words about spark engines here")],
    [(2, BASE.replace("dog", "cat"))],        # near-dup of 1
    [(3, BASE.replace("today", "sunday"))],   # near-dup of 1 and 2
]


def _drain(spark, src, ckpt, sink):
    q = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_docs_to_pairs_to_clusters(spark, tmp_path):
    doc_src = str(tmp_path / "docs_in")
    index_dir = str(tmp_path / "band_index")
    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    for batch in BATCHES:
        spark.createDataFrame(batch, DOC_SCHEMA).write.mode("append").parquet(
            doc_src
        )
        _drain(spark, doc_src, ck1, dedup_sink(spark, index_dir, pairs_dir))
        # second stage: the decisions table IS the pair stream —
        # its endpoints are named (new_id, index_id)
        import os

        if os.path.isdir(pairs_dir):
            _drain(
                spark,
                pairs_dir,
                ck2,
                cc_sink(spark, labels_dir, "new_id", "index_id"),
            )

    labels = {
        (r.node, r.label) for r in current_labels(spark, labels_dir).collect()
    }
    # docs 1, 2, 3 are one cluster labeled by the min id; doc 9 never
    # paired, so it never enters the label table
    assert labels == {(1, 1), (2, 1), (3, 1)}


def test_full_streaming_stack_with_midstream_compaction(spark, tmp_path):
    """The whole maintenance stack in ONE run: documents stream into the
    band index, a compaction + generation prune lands MID-STREAM, later
    batches keep detecting near-dups of pre-compaction docs through the
    new generation, incremental CC relabels after every pair batch with
    an epoch prune at the end — and the final cluster table (plus the
    keep-best decision derived from it) equals the batch dedup math
    composed over all documents at once."""
    import os

    from pyspark.sql import functions as F

    from purldb_spark.functions.text import quality_features
    from purldb_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_bands,
        verify_jaccard,
        word_shingles,
    )
    from purldb_spark.streaming.compact_stream import (
        compact_band_index,
        prune_epochs,
        prune_generations,
    )

    doc_src = str(tmp_path / "docs_in")
    index_dir = str(tmp_path / "band_index")
    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    base2 = "pack my box with five dozen liquor jugs before noon strikes"
    # doc 4 is a byte-exact dup of doc 1 (cross-batch) and doc 7 of doc 5
    # (same batch as 5's near-dup): the exact-dup pre-collapse keeps them
    # out of the band index, yet streamed clustering must still equal the
    # batch math over ALL documents including the copies
    batches = [
        [(1, BASE), (9, "completely unrelated words about spark engines here")],
        [(2, BASE.replace("dog", "cat")), (5, base2), (4, BASE)],
        [
            (3, BASE.replace("today", "sunday")),
            (6, base2.replace("noon", "dusk")),
            (7, base2),
        ],
    ]
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, DOC_SCHEMA).write.mode("append").parquet(
            doc_src
        )
        _drain(spark, doc_src, ck1, dedup_sink(spark, index_dir, pairs_dir))
        if i == 1:
            # mid-stream maintenance: compact + retention-free rewrite,
            # swap the generation pointer, drop the superseded layout —
            # batch 3 must still pair doc 3 with docs 1/2 (and 6 with 5)
            # THROUGH the compacted generation
            assert compact_band_index(spark, index_dir) == 1
            assert prune_generations(index_dir)
        if os.path.isdir(pairs_dir):
            _drain(
                spark,
                pairs_dir,
                ck2,
                cc_sink(spark, labels_dir, "new_id", "index_id"),
            )
    prune_epochs(labels_dir, keep=2)

    all_docs = spark.createDataFrame(
        [d for b in batches for d in b], DOC_SCHEMA
    )
    # the batch math over the full corpus (the dedup_cluster_keep_best
    # composition: shingles -> bands -> candidates -> verified pairs ->
    # connected components)
    sh = word_shingles(all_docs, "doc_id", "text", n=3)
    pairs = verify_jaccard(
        lsh_candidate_pairs(minhash_bands(sh, "doc_id"), "doc_id"),
        sh,
        "doc_id",
        0.5,
    )
    batch_labels = {
        (r.node, r.label)
        for r in connected_components(
            pairs.select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            ),
            "doc_a",
            "doc_b",
        ).collect()
    }
    streamed_labels = {
        (r.node, r.label) for r in current_labels(spark, labels_dir).collect()
    }
    assert streamed_labels == batch_labels
    assert streamed_labels == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 5),
    }

    # keep-best decision off a label table (the dedup_cluster_keep_best
    # selection: singletons cluster as themselves, argmax quality per
    # cluster, tie -> smallest doc_id)
    def keep_best(label_rows):
        lab = spark.createDataFrame(
            sorted(label_rows), "doc_id long, cluster_id long"
        )
        member = (
            all_docs.join(lab, "doc_id", "left")
            .withColumn(
                "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
            )
            .withColumn(
                "quality_score", quality_features("text")["quality_score"]
            )
        )
        from pyspark.sql.window import Window

        rn = F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("quality_score").desc(), F.col("doc_id").asc()
            )
        )
        return {
            (r.doc_id, r.cluster_id, r.keep)
            for r in member.withColumn("keep", rn == 1)
            .select("doc_id", "cluster_id", "keep")
            .collect()
        }

    assert keep_best(streamed_labels) == keep_best(batch_labels)


def test_four_face_composition_ledger_driven_compaction(spark, tmp_path):
    """Capstone: ledger + dedup + compaction + incremental CC in ONE
    run, with the mid-stream compaction's retention window derived FROM
    the ledger (keep_epochs covering everything ingested so far) — the
    production wiring of all four maintenance faces. Final labels equal
    the batch math; the ledger window fed to compaction is exactly the
    ingested doc set."""
    import os

    from pyspark.sql import functions as F

    from purldb_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_bands,
        verify_jaccard,
        word_shingles,
    )
    from purldb_spark.streaming.compact_stream import (
        compact_band_index,
        prune_generations,
    )
    from purldb_spark.streaming.dedup_stream import index_new_batch
    from purldb_spark.streaming.ledger_stream import (
        record_batch,
        retained_docs,
    )

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    labels_dir = str(tmp_path / "labels")
    ledger_dir = str(tmp_path / "ledger")

    batches = [
        [(1, BASE), (9, "completely unrelated words about spark engines here")],
        [(2, BASE.replace("dog", "cat")), (4, BASE)],  # near-dup + exact dup
        [(3, BASE.replace("today", "sunday"))],
    ]
    for epoch, batch in enumerate(batches):
        df = spark.createDataFrame(batch, DOC_SCHEMA)
        record_batch(spark, df, ledger_dir, epoch)
        index_new_batch(spark, df, index_dir, pairs_dir)
        if epoch == 1:
            # ledger-driven mid-stream maintenance: the retention window
            # covers every epoch ingested so far -> compaction rewrites,
            # evicts nothing, and batch 3 still matches through it
            window = retained_docs(spark, ledger_dir, keep_epochs=epoch + 1)
            assert {r.doc_id for r in window.collect()} == {1, 9, 2, 4}
            assert compact_band_index(
                spark, index_dir, retained_docs=window
            ) == 1
            assert prune_generations(index_dir)
        if os.path.isdir(pairs_dir):
            from purldb_spark.streaming.cc_stream import merge_pairs_batch

            merge_pairs_batch(
                spark,
                spark.read.parquet(pairs_dir),
                labels_dir,
                epoch,
                "new_id",
                "index_id",
            )

    all_docs = spark.createDataFrame(
        [d for b in batches for d in b], DOC_SCHEMA
    )
    sh = word_shingles(all_docs, "doc_id", "text", n=3)
    pairs = verify_jaccard(
        lsh_candidate_pairs(minhash_bands(sh, "doc_id"), "doc_id"),
        sh,
        "doc_id",
        0.5,
    )
    batch_labels = {
        (r.node, r.label)
        for r in connected_components(
            pairs.select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            ),
            "doc_a",
            "doc_b",
        ).collect()
    }
    streamed = {
        (r.node, r.label) for r in current_labels(spark, labels_dir).collect()
    }
    assert streamed == batch_labels == {(1, 1), (2, 1), (3, 1), (4, 1)}
