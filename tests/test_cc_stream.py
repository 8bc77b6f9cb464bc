"""Incremental connected-components maintenance (streaming/cc_stream.py):
streamed labels == one-shot batch CC regardless of pair arrival order,
cross-batch merges converge to the global component minimum, untouched
components are carried forward unrecomputed, replay is idempotent."""

from __future__ import annotations

from pyspark.sql import types as T

from purldb_spark.operators.dedup import connected_components
from purldb_spark.streaming.cc_stream import (
    cc_sink,
    current_labels,
    merge_pairs_batch,
)

SCHEMA = T.StructType(
    [T.StructField("doc_a", T.LongType()), T.StructField("doc_b", T.LongType())]
)

# batch 1 creates components {5,7} and {10,12}; batch 2 bridges them via
# 7-10 (merged min = 5) and opens a new one {20,21}; batch 3 attaches 1
# to the merged component, dropping its min to 1 — a 3-hop cross-batch
# label cascade — and leaves {20,21} untouched
BATCH1 = [(5, 7), (10, 12)]
BATCH2 = [(7, 10), (20, 21)]
BATCH3 = [(1, 12)]


def _labels(spark, labels_dir):
    df = current_labels(spark, labels_dir)
    return {(r.node, r.label) for r in df.collect()} if df is not None else set()


def _batch_cc(spark, pairs):
    df = spark.createDataFrame(pairs, SCHEMA)
    return {
        (r.node, r.label)
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }


def test_streamed_equals_batch_cc_with_cross_batch_merges(spark, tmp_path):
    labels_dir = str(tmp_path / "labels")
    for epoch, batch in enumerate([BATCH1, BATCH2, BATCH3]):
        merge_pairs_batch(
            spark, spark.createDataFrame(batch, SCHEMA), labels_dir, epoch
        )
        assert _labels(spark, labels_dir) == _batch_cc(
            spark, [p for b in [BATCH1, BATCH2, BATCH3][: epoch + 1] for p in b]
        )
    # the merged component's label is the global min across three batches
    final = dict(_labels(spark, labels_dir))
    assert final[12] == 1 and final[5] == 1 and final[7] == 1
    assert final[20] == 20 and final[21] == 20


def test_replay_is_idempotent_and_heals_partial_snapshot(spark, tmp_path):
    import os

    labels_dir = str(tmp_path / "labels")
    merge_pairs_batch(
        spark, spark.createDataFrame(BATCH1, SCHEMA), labels_dir, 0
    )
    merge_pairs_batch(
        spark, spark.createDataFrame(BATCH2, SCHEMA), labels_dir, 1
    )
    want = _labels(spark, labels_dir)

    # simulate a crash mid-write of epoch 1's snapshot: clobber it with a
    # partial row set, then replay epoch 1 — the body reads strictly
    # below its own epoch, so it recomputes from epoch 0 and heals
    partial = spark.createDataFrame([(5, 5)], "node long, label long")
    partial.write.mode("overwrite").parquet(
        os.path.join(labels_dir, "batch=1")
    )
    merge_pairs_batch(
        spark, spark.createDataFrame(BATCH2, SCHEMA), labels_dir, 1
    )
    assert _labels(spark, labels_dir) == want


def test_untouched_components_carry_forward_via_stream(spark, tmp_path):
    """Drain through a real availableNow stream; the {20,21} component is
    untouched by batch 3 and must survive relabeling byte-identical."""
    src = str(tmp_path / "incoming")
    labels_dir = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(cc_sink(spark, labels_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for batch in (BATCH1, BATCH2, BATCH3):
        spark.createDataFrame(batch, SCHEMA).write.mode("append").parquet(src)
        drain()
    assert _labels(spark, labels_dir) == _batch_cc(
        spark, BATCH1 + BATCH2 + BATCH3
    )


def test_internal_edge_into_giant_component_relabels_nothing(spark, tmp_path):
    """The mega-component hazard: one batch edge INTERNAL to a large
    pre-existing component must be dropped before the affected subgraph is
    built (novel_pairs -> empty), so relabel work is zero — not O(giant
    component) — and the snapshot is carried forward unchanged."""
    from purldb_spark.streaming.cc_stream import novel_pairs

    labels_dir = str(tmp_path / "labels")
    # a 500-node chain: one big component labeled 0
    chain = [(i, i + 1) for i in range(500)]
    merge_pairs_batch(spark, spark.createDataFrame(chain, SCHEMA), labels_dir, 0)
    before = _labels(spark, labels_dir)
    assert {lab for _, lab in before} == {0}

    internal = spark.createDataFrame([(17, 433)], SCHEMA)
    prior = current_labels(spark, labels_dir)
    # the relabel subgraph's seed edge set is EMPTY for internal edges
    assert novel_pairs(internal, prior).count() == 0

    merge_pairs_batch(spark, internal, labels_dir, 1)
    assert _labels(spark, labels_dir) == before


def test_novel_pairs_keeps_merging_and_unlabeled_edges(spark):
    prior = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "node long, label long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 10), (10, 99)], SCHEMA
    )  # internal / cross-component / half-unlabeled
    from purldb_spark.streaming.cc_stream import novel_pairs

    got = {(r.doc_a, r.doc_b) for r in novel_pairs(pairs, prior).collect()}
    assert got == {(2, 10), (10, 99)}


def test_prune_epochs_keeps_latest_committed(spark, tmp_path):
    import os

    import pytest

    from purldb_spark.streaming.cc_stream import latest_epoch
    from purldb_spark.streaming.compact_stream import prune_epochs

    labels_dir = str(tmp_path / "labels")
    for epoch, batch in enumerate([BATCH1, BATCH2, BATCH3]):
        merge_pairs_batch(
            spark, spark.createDataFrame(batch, SCHEMA), labels_dir, epoch
        )
    want = _labels(spark, labels_dir)
    with pytest.raises(ValueError):
        prune_epochs(labels_dir, keep=0)
    removed = prune_epochs(labels_dir, keep=2)
    assert removed == [os.path.join(labels_dir, "batch=0")]
    assert latest_epoch(labels_dir) == 2
    assert _labels(spark, labels_dir) == want
    # replay of the latest epoch still finds its predecessor (keep >= 2)
    merge_pairs_batch(
        spark, spark.createDataFrame(BATCH3, SCHEMA), labels_dir, 2
    )
    assert _labels(spark, labels_dir) == want


def test_mega_component_merge_defers_and_flushes(spark, tmp_path):
    """max_component routing: an edge that would relabel a component
    bigger than the cap is deferred (labels untouched, per-batch bound
    O(batch x cap)); flush_deferred folds it in with one uncapped pass
    and the result equals batch CC over everything. Small merges stay
    inline; a replayed capped batch overwrites its deferral partition."""
    from purldb_spark.streaming.cc_stream import flush_deferred

    labels_dir = str(tmp_path / "labels")
    deferred_dir = str(tmp_path / "deferred")
    chain = [(i, i + 1) for i in range(500)]  # giant component, label 0
    merge_pairs_batch(spark, spark.createDataFrame(chain, SCHEMA), labels_dir, 0)
    merge_pairs_batch(
        spark, spark.createDataFrame([(900, 901)], SCHEMA), labels_dir, 1
    )
    before = _labels(spark, labels_dir)

    # batch 2: (17, 900) bridges giant+small -> DEFERRED under cap=100;
    # (950, 951) is a fresh singleton edge -> merged inline
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(17, 900), (950, 951)], SCHEMA),
        labels_dir,
        2,
        max_component=100,
        deferred_dir=deferred_dir,
    )
    after = dict(_labels(spark, labels_dir))
    assert after[900] == 900 and after[901] == 900  # NOT yet merged
    assert after[950] == 950 and after[951] == 950  # inline merge landed
    assert after[17] == 0
    import os

    assert os.path.isdir(os.path.join(deferred_dir, "batch=2"))

    # replay of the capped batch: deferral partition overwritten, labels
    # unchanged (novel_pairs drops the already-merged inline edge)
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(17, 900), (950, 951)], SCHEMA),
        labels_dir,
        2,
        max_component=100,
        deferred_dir=deferred_dir,
    )
    assert dict(_labels(spark, labels_dir)) == after

    # flush folds the deferred bridge in; result == batch CC over all
    assert flush_deferred(spark, labels_dir, deferred_dir, 100) == 1
    want = _batch_cc(
        spark, chain + [(900, 901), (17, 900), (950, 951)]
    )
    assert _labels(spark, labels_dir) == want
    # crash-idempotence: a second flush is a no-op with nothing pending
    assert flush_deferred(spark, labels_dir, deferred_dir, 101) == 0
    assert _labels(spark, labels_dir) == want


def test_randomized_arrival_orders_converge_to_batch_cc(spark, tmp_path):
    """Deterministic-seed randomized pin: random edge sets, random batch
    splits, random caps — after every batch (and a final flush when a
    cap deferred anything) the labels equal batch CC over the edges
    applied so far. This is the convergent-monotone claim exercised
    beyond hand-picked topologies."""
    import random

    from purldb_spark.streaming.cc_stream import flush_deferred

    for seed in (11, 23):
        rng = random.Random(seed)
        nodes = list(range(30))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        rng.shuffle(edges)
        cut1, cut2 = sorted(rng.sample(range(1, len(edges)), 2))
        batches = [edges[:cut1], edges[cut1:cut2], edges[cut2:]]
        cap = rng.choice([None, 5])

        labels_dir = str(tmp_path / f"labels{seed}")
        deferred_dir = str(tmp_path / f"deferred{seed}")
        for epoch, batch in enumerate(batches):
            merge_pairs_batch(
                spark,
                spark.createDataFrame(batch, SCHEMA),
                labels_dir,
                epoch,
                max_component=cap,
                deferred_dir=deferred_dir if cap else None,
            )
        if cap:
            # each flush needs a FRESH epoch above every prior one (a
            # reused epoch would read strictly below itself and discard
            # the previous flush's snapshot)
            ep = 100
            while flush_deferred(spark, labels_dir, deferred_dir, ep):
                ep += 1
        assert _labels(spark, labels_dir) == _batch_cc(spark, edges)


def test_in_band_flush_folds_through_live_stream_lineage(spark, tmp_path):
    """r12 ADVICE (high): a side-epoch flush on a LIVE stream either
    clobbers a stream snapshot or is never read. In-band flush folds the
    deferral ledger into a normal stream epoch — sequential epochs keep
    advancing afterwards and every later batch sees the folded merges."""
    labels_dir = str(tmp_path / "labels")
    deferred_dir = str(tmp_path / "deferred")

    # epoch 0: two 4-node chains (components of 4 > cap 3 once merged)
    chain_a = [(1, 2), (2, 3), (3, 4)]
    chain_b = [(10, 11), (11, 12), (12, 13)]
    merge_pairs_batch(
        spark,
        spark.createDataFrame(chain_a + chain_b, SCHEMA),
        labels_dir,
        0,
    )
    # epoch 1: the bridge 4-10 would relabel a >3 component -> deferred
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(4, 10)], SCHEMA),
        labels_dir,
        1,
        max_component=3,
        deferred_dir=deferred_dir,
    )
    labels = dict(_labels(spark, labels_dir))
    assert labels[10] == 10 and labels[1] == 1  # not yet merged

    # epoch 2: ordinary batch pairs PLUS the in-band flush of the ledger
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(20, 21)], SCHEMA),
        labels_dir,
        2,
        max_component=3,
        deferred_dir=deferred_dir,
        flush_in_band=True,
    )
    labels = dict(_labels(spark, labels_dir))
    assert labels[10] == 1 and labels[13] == 1  # deferred merge applied
    assert labels[20] == 20  # the batch's own pairs landed too

    # epoch 3: the stream keeps advancing and still sees the fold (a
    # fresh small pair — an edge INTO the merged mega-component would
    # itself be deferred by the cap, which is the intended semantics)
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(40, 41)], SCHEMA),
        labels_dir,
        3,
        max_component=3,
        deferred_dir=deferred_dir,
    )
    labels = dict(_labels(spark, labels_dir))
    assert labels[40] == 40 and labels[13] == 1
    assert _labels(spark, labels_dir) == _batch_cc(
        spark, chain_a + chain_b + [(4, 10), (20, 21), (40, 41)]
    )


def test_in_band_flush_replay_rereads_ledger(spark, tmp_path):
    """Replay safety: ledger partitions a flush folds are GC'd only
    after a LATER flush proves their merges live in a committed
    predecessor snapshot, so replaying the flush epoch re-reads them
    and rewrites the identical snapshot (no lost merges)."""
    import os

    labels_dir = str(tmp_path / "labels")
    deferred_dir = str(tmp_path / "deferred")

    chain = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 13)]
    merge_pairs_batch(spark, spark.createDataFrame(chain, SCHEMA), labels_dir, 0)
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(4, 10)], SCHEMA),
        labels_dir,
        1,
        max_component=3,
        deferred_dir=deferred_dir,
    )
    assert os.path.isdir(os.path.join(deferred_dir, "batch=1"))

    flush_args = dict(max_component=3, deferred_dir=deferred_dir, flush_in_band=True)
    merge_pairs_batch(
        spark, spark.createDataFrame([], SCHEMA), labels_dir, 2, **flush_args
    )
    after_first = _labels(spark, labels_dir)
    assert dict(after_first)[13] == 1
    # ledger partition SURVIVES its own flush (replay must re-read it)
    assert os.path.isdir(os.path.join(deferred_dir, "batch=1"))

    # replay of epoch 2 (stream failure before checkpoint commit):
    # identical snapshot, fold preserved
    merge_pairs_batch(
        spark, spark.createDataFrame([], SCHEMA), labels_dir, 2, **flush_args
    )
    assert _labels(spark, labels_dir) == after_first

    # a LATER flush epoch GCs the folded partition (its merges are now
    # in a committed predecessor of any replay's prior read)
    merge_pairs_batch(
        spark, spark.createDataFrame([], SCHEMA), labels_dir, 3, **flush_args
    )
    assert not os.path.isdir(os.path.join(deferred_dir, "batch=1"))
    assert dict(_labels(spark, labels_dir))[13] == 1


def test_deferred_stats_reports_and_drains(spark, tmp_path):
    """r12 verdict #3: the deferral ledger publishes the numbers an
    operator needs to pick a flush cadence — pending edges, partition
    span, components touched — and drains to zero after a flush."""
    from purldb_spark.streaming.cc_stream import deferred_stats

    labels_dir = str(tmp_path / "labels")
    deferred_dir = str(tmp_path / "deferred")

    chain = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 13)]
    merge_pairs_batch(spark, spark.createDataFrame(chain, SCHEMA), labels_dir, 0)
    merge_pairs_batch(
        spark,
        spark.createDataFrame([(4, 10), (1, 13)], SCHEMA),
        labels_dir,
        1,
        max_component=3,
        deferred_dir=deferred_dir,
    )
    st = deferred_stats(spark, deferred_dir, labels_dir)
    assert st["pending_edges"] == 2
    assert st["pending_partitions"] == 1
    assert st["oldest_epoch"] == 1 and st["newest_epoch"] == 1
    assert st["components_touched"] == 2  # both chains' stored labels
    assert st["flushed_thru"] is None

    merge_pairs_batch(
        spark,
        spark.createDataFrame([], SCHEMA),
        labels_dir,
        2,
        max_component=3,
        deferred_dir=deferred_dir,
        flush_in_band=True,
    )
    st = deferred_stats(spark, deferred_dir, labels_dir)
    assert st["pending_edges"] == 0
    assert st["flushed_thru"] == 2
    assert dict(_labels(spark, labels_dir))[13] == 1


def test_in_band_flush_through_real_stream_with_cap(spark, tmp_path):
    """The full r12-ADVICE scenario end-to-end: a REAL availableNow
    stream with max_component capping and flush_every wiring — deferred
    mega-component merges fold back through the stream's own epochs and
    the final labels equal batch CC over every pair, with the ledger
    drained (pending 0) after the last flush epoch."""
    from purldb_spark.streaming.cc_stream import deferred_stats

    src = str(tmp_path / "incoming")
    labels_dir = str(tmp_path / "labels")
    deferred_dir = str(tmp_path / "deferred")
    ckpt = str(tmp_path / "ckpt")

    sink = cc_sink(
        spark,
        labels_dir,
        max_component=3,
        deferred_dir=deferred_dir,
        flush_every=2,  # every 2nd epoch folds the ledger in-band
    )

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

    chain_a = [(1, 2), (2, 3), (3, 4)]      # 4-node component (> cap)
    chain_b = [(10, 11), (11, 12), (12, 13)]
    bridge = [(4, 10)]                       # deferred: both sides > cap
    fresh = [(20, 21)]
    late = [(30, 31)]                        # epoch 2 = flush epoch
    more = [(40, 41)]                        # epoch 3
    tail = [(50, 51)]                        # epoch 4 = flush epoch

    batches = [chain_a + chain_b, bridge, fresh + late, more, tail]
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, SCHEMA).write.mode("append").parquet(src)
        drain()
        if i == 1:
            # the bridge just deferred at epoch 1 (not a flush epoch):
            # the backlog-age telemetry must point at it (r13 verdict
            # item 6 — oldest-deferred-epoch is the number the cadence
            # decision bounds)
            mid = deferred_stats(spark, deferred_dir, labels_dir)
            assert mid["pending_edges"] == 1
            assert mid["oldest_epoch"] == 1

    all_pairs = [p for b in batches for p in b]
    assert _labels(spark, labels_dir) == _batch_cc(spark, all_pairs)
    labels = dict(_labels(spark, labels_dir))
    assert labels[13] == 1  # the deferred bridge merge landed

    st = deferred_stats(spark, deferred_dir, labels_dir)
    assert st["pending_edges"] == 0
    assert st["oldest_epoch"] is None  # ledger age resets after the drain
    assert st["flushed_thru"] == 4
