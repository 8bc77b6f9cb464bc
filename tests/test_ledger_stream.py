"""Document ingest ledger (streaming/ledger_stream.py): the retention
window it derives drives band-index compaction end-to-end — retained
docs keep matching, evicted docs stop matching, replay is idempotent."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from purldb_spark.streaming.compact_stream import (
    compact_band_index,
    index_paths,
    prune_generations,
)
from purldb_spark.streaming.dedup_stream import index_new_batch
from purldb_spark.streaming.ledger_stream import (
    record_batch,
    retained_docs,
)

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

OLD = "the quick brown fox jumps over the lazy dog today and tomorrow"
MID = "pack my box with five dozen liquor jugs before noon strikes twice"
NEW = "sphinx of black quartz judge my vow said the old night owl"


def _index_docs(spark, index_dir):
    bands_path, _ = index_paths(index_dir)
    return {
        r.doc_id for r in spark.read.parquet(bands_path).select("doc_id").collect()
    }


def test_ledger_window_drives_compaction(spark, tmp_path):
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ledger_dir = str(tmp_path / "ledger")

    batches = [[(1, OLD)], [(2, MID)], [(3, NEW)]]
    for epoch, batch in enumerate(batches):
        df = spark.createDataFrame(batch, SCHEMA)
        record_batch(spark, df, ledger_dir, epoch)
        index_new_batch(spark, df, index_dir, pairs_dir)

    # keep the last 2 epochs -> docs 2 and 3 survive, doc 1 is evicted
    window = retained_docs(spark, ledger_dir, keep_epochs=2)
    assert {r.doc_id for r in window.collect()} == {2, 3}
    assert compact_band_index(spark, index_dir, retained_docs=window) == 1
    prune_generations(index_dir)
    assert _index_docs(spark, index_dir) == {2, 3}

    # post-compaction batches dedup only against the window: a near-dup
    # of evicted doc 1 goes UNDETECTED (the TTL contract), a near-dup of
    # retained doc 2 is still caught
    df4 = spark.createDataFrame([(4, OLD.replace("dog", "cat"))], SCHEMA)
    record_batch(spark, df4, ledger_dir, 3)
    index_new_batch(spark, df4, index_dir, pairs_dir)
    df5 = spark.createDataFrame([(5, MID.replace("noon", "dusk"))], SCHEMA)
    record_batch(spark, df5, ledger_dir, 4)
    index_new_batch(spark, df5, index_dir, pairs_dir)
    pairs = {
        (r.new_id, r.index_id)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (5, 2) in pairs
    assert all(idx != 1 for _, idx in pairs)

    # min_epoch selector and re-ingest union semantics
    assert {
        r.doc_id
        for r in retained_docs(spark, ledger_dir, min_epoch=3).collect()
    } == {4, 5}
    record_batch(
        spark, spark.createDataFrame([(1, OLD)], SCHEMA), ledger_dir, 5
    )
    assert 1 in {
        r.doc_id
        for r in retained_docs(spark, ledger_dir, keep_epochs=1).collect()
    }


def test_ledger_replay_idempotent_and_torn_partition_heals(spark, tmp_path):
    ledger_dir = str(tmp_path / "ledger")
    df = spark.createDataFrame([(1, OLD), (2, MID)], SCHEMA)
    record_batch(spark, df, ledger_dir, 0)

    # torn partition from a crashed in-flight epoch 1: the replay
    # OVERWRITES it before the stream advances (the epoch-partial
    # recipe), after which every selector reads clean data
    torn = os.path.join(ledger_dir, "batch=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1\x00not-a-footer")
    record_batch(  # the healing replay of epoch 1
        spark, spark.createDataFrame([(3, NEW)], SCHEMA), ledger_dir, 1
    )
    record_batch(  # a second replay rewrites the identical rows
        spark, spark.createDataFrame([(3, NEW)], SCHEMA), ledger_dir, 1
    )
    assert {
        r.doc_id
        for r in retained_docs(spark, ledger_dir, keep_epochs=2).collect()
    } == {1, 2, 3}
    assert {
        r.doc_id
        for r in retained_docs(spark, ledger_dir, min_epoch=1).collect()
    } == {3}


def test_prune_ledger_keeps_latest_epochs(spark, tmp_path):
    from purldb_spark.streaming.compact_stream import prune_epochs

    ledger_dir = str(tmp_path / "ledger")
    for epoch, doc in enumerate([(1, OLD), (2, MID), (3, NEW)]):
        record_batch(
            spark, spark.createDataFrame([doc], SCHEMA), ledger_dir, epoch
        )
    removed = prune_epochs(ledger_dir, keep=2)
    assert len(removed) == 1 and removed[0].endswith("batch=0")
    assert {
        r.doc_id
        for r in retained_docs(spark, ledger_dir, keep_epochs=2).collect()
    } == {2, 3}
