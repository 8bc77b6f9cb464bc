"""NB streaming face (streaming/nb_stream.py, the 17th face): per-epoch
sufficient-statistics shards SUM-merge to the exact single-pass model
(the counts monoid), through a REAL availableNow stream, with the
shard-ledger replay-idempotence contract."""

from __future__ import annotations

from purldb_spark.operators.nb import nb_train
from purldb_spark.streaming.nb_stream import (
    current_nb_model,
    nb_sink,
    train_nb_batch,
)

SCHEMA = "doc_id long, text string, y long"

_DOCS = [
    (0, "good clean prose with useful words", 1),
    (1, "good article nice words more words", 1),
    (2, "spam spam buy now buy spam", 0),
    (3, "buy spam now now now", 0),
    (4, "clean useful article", 1),
    (5, "novel tokens arrive later", 1),
]


def _model_rows(df):
    return sorted(
        (r.label, r.bucket, r.token_cnt, r.class_docs, r.class_tokens)
        for r in df.collect()
    )


def test_streamed_shards_equal_single_pass_model(spark, tmp_path):
    src = str(tmp_path / "incoming")
    stats_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    sink = nb_sink(spark, stats_dir, "y", "text", 4)

    def drain():
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for lo, hi in ((0, 2), (2, 5), (5, 6)):  # three micro-batches
        spark.createDataFrame(_DOCS[lo:hi], SCHEMA).write.mode(
            "append"
        ).parquet(src)
        drain()

    streamed = current_nb_model(spark, stats_dir)
    direct = nb_train(
        spark, spark.createDataFrame(_DOCS, SCHEMA), "y", "text", 4
    )
    assert _model_rows(streamed) == _model_rows(direct)


def test_replayed_epoch_rewrites_identical_shard(spark, tmp_path):
    stats_dir = str(tmp_path / "stats")
    b0 = spark.createDataFrame(_DOCS[:3], SCHEMA)
    b1 = spark.createDataFrame(_DOCS[3:], SCHEMA)
    train_nb_batch(spark, b0, "y", "text", 4, stats_dir, epoch_id=0)
    train_nb_batch(spark, b1, "y", "text", 4, stats_dir, epoch_id=1)
    before = _model_rows(current_nb_model(spark, stats_dir))
    # replayed epoch 1 (partition overwrite) changes nothing
    train_nb_batch(spark, b1, "y", "text", 4, stats_dir, epoch_id=1)
    assert _model_rows(current_nb_model(spark, stats_dir)) == before


def test_empty_batch_writes_zero_shard_not_poison(spark, tmp_path):
    stats_dir = str(tmp_path / "stats")
    train_nb_batch(
        spark,
        spark.createDataFrame([], SCHEMA),
        "y",
        "text",
        4,
        stats_dir,
        epoch_id=0,
    )
    rows = _model_rows(current_nb_model(spark, stats_dir))
    assert len(rows) == 8 and all(r[2] == 0 for r in rows)


def test_compaction_preserves_model_and_replay_contract(spark, tmp_path):
    """compact_nb_shards folds all-but-newest into a base partition in a
    fresh generation (CURRENT-pointer swap, writer flock): the model is
    unchanged, a replay of the NEWEST epoch (the only one Structured
    Streaming can replay) still overwrites its own carried partition
    without double-counting, and a second compaction chains."""
    import os

    from purldb_spark.streaming.compact_stream import table_path
    from purldb_spark.streaming.nb_stream import compact_nb_shards

    stats_dir = str(tmp_path / "stats")
    for ep, (lo, hi) in enumerate(((0, 2), (2, 4), (4, 6))):
        train_nb_batch(
            spark,
            spark.createDataFrame(_DOCS[lo:hi], SCHEMA),
            "y",
            "text",
            4,
            stats_dir,
            epoch_id=ep,
        )
    before = _model_rows(current_nb_model(spark, stats_dir))

    gen = compact_nb_shards(spark, stats_dir)
    assert gen == 1
    root = table_path(stats_dir, "shards")
    assert root.endswith("gen=1/shards")
    parts = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert parts == ["batch=1", "batch=2"]  # folded base + carried newest
    assert _model_rows(current_nb_model(spark, stats_dir)) == before
    # the pre-compaction flat shards are GC'd
    assert not os.path.isdir(os.path.join(stats_dir, "shards"))

    # replay of the newest epoch: overwrites its carried partition only
    train_nb_batch(
        spark,
        spark.createDataFrame(_DOCS[4:6], SCHEMA),
        "y",
        "text",
        4,
        stats_dir,
        epoch_id=2,
    )
    assert _model_rows(current_nb_model(spark, stats_dir)) == before

    # stream continues into the live generation, then compacts again
    train_nb_batch(
        spark,
        spark.createDataFrame(_DOCS[0:1], SCHEMA),
        "y",
        "text",
        4,
        stats_dir,
        epoch_id=3,
    )
    grown = _model_rows(current_nb_model(spark, stats_dir))
    assert compact_nb_shards(spark, stats_dir) == 2
    assert _model_rows(current_nb_model(spark, stats_dir)) == grown
    # the superseded generation is GC'd whole, not left as an empty dir
    assert [d for d in os.listdir(stats_dir) if d.startswith("gen=")] == [
        "gen=2"
    ]


def test_compaction_noop_below_two_shards(spark, tmp_path):
    from purldb_spark.streaming.nb_stream import compact_nb_shards

    stats_dir = str(tmp_path / "stats")
    assert compact_nb_shards(spark, stats_dir) is None
    train_nb_batch(
        spark,
        spark.createDataFrame(_DOCS[:2], SCHEMA),
        "y",
        "text",
        4,
        stats_dir,
        epoch_id=0,
    )
    assert compact_nb_shards(spark, stats_dir) is None  # one shard: no-op
