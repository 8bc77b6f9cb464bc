"""Band-index compaction/TTL face (streaming/compact_stream.py): pure
compaction is a semantic no-op mid-stream, retention bounds the index to
the window, the pointer swap is crash-safe, and replay is idempotent."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from purldb_spark.streaming.compact_stream import (
    compact_band_index,
    current_generation,
    index_paths,
    prune_generations,
)
from purldb_spark.streaming.dedup_stream import index_new_batch

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)

BATCH1 = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (3, "completely different words about spark query engines here now"),
]
BATCH2 = [
    (2, "the quick brown fox jumps over the lazy cat today"),  # near-dup of 1
    (4, "yet another unrelated document of fresh vocabulary entirely"),
]


def _pairs(spark, pairs_dir):
    if not os.path.isdir(pairs_dir):
        return set()
    return {
        (r.new_id, r.index_id)
        for r in spark.read.parquet(pairs_dir).collect()
    }


def _bands_rows(spark, index_dir):
    bands_path, _ = index_paths(index_dir)
    return {
        tuple(r)
        for r in spark.read.parquet(bands_path)
        .select("doc_id", "band_idx", "band_key")
        .collect()
    }


def test_compaction_is_a_semantic_noop_mid_stream(spark, tmp_path):
    """batch1 (real stream drain) -> compact -> batch2 (drain) detects
    exactly the pairs of the uncompacted run, and the compacted index
    holds the identical row SET — the streamed == batch pin with a
    maintenance compaction in the middle of the stream's life."""
    from purldb_spark.streaming.dedup_stream import dedup_sink

    plain = str(tmp_path / "plain")
    compacted = str(tmp_path / "compacted")
    for index_dir in (plain, compacted):
        pairs_dir = index_dir + "_pairs"
        src = index_dir + "_incoming"
        ckpt = index_dir + "_ckpt"

        def drain():
            q = (
                spark.readStream.schema(SCHEMA)
                .parquet(src)
                .writeStream.foreachBatch(
                    dedup_sink(spark, index_dir, pairs_dir)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        spark.createDataFrame(BATCH1, SCHEMA).write.mode("append").parquet(src)
        drain()
        if index_dir == compacted:
            gen = compact_band_index(spark, index_dir)
            assert gen == 1 and current_generation(index_dir) == 1
        spark.createDataFrame(BATCH2, SCHEMA).write.mode("append").parquet(src)
        drain()
    assert _pairs(spark, compacted + "_pairs") == {(2, 1)}
    assert _pairs(spark, compacted + "_pairs") == _pairs(spark, plain + "_pairs")
    assert _bands_rows(spark, compacted) == _bands_rows(spark, plain)


def test_retention_bounds_index_and_scopes_detection(spark, tmp_path):
    """TTL-compacting doc 1 away: the index holds only retained docs' rows
    and the near-dup of the evicted doc is no longer detected — the window,
    not history, is the dedup universe."""
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    index_new_batch(
        spark, spark.createDataFrame(BATCH1, SCHEMA), index_dir, pairs_dir
    )
    retained = spark.createDataFrame([(3,)], "doc_id long")
    compact_band_index(spark, index_dir, retained_docs=retained)
    assert {r[0] for r in _bands_rows(spark, index_dir)} == {3}
    _, sh_path = index_paths(index_dir)
    assert {
        r.doc_id
        for r in spark.read.parquet(sh_path).select("doc_id").distinct().collect()
    } == {3}
    # doc 2 near-dups evicted doc 1 only: no decision under the window
    index_new_batch(
        spark, spark.createDataFrame(BATCH2, SCHEMA), index_dir, pairs_dir
    )
    assert _pairs(spark, pairs_dir) == set()
    # and the new batch's keys landed in the live generation
    assert {r[0] for r in _bands_rows(spark, index_dir)} == {2, 3, 4}


def test_pointer_swap_is_crash_safe_and_replay_idempotent(spark, tmp_path):
    """A gen directory without a pointer swap (crash before os.replace)
    leaves readers on the old index; re-running the compaction (replay)
    converges to the same row set; pruning removes only superseded dirs."""
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    index_new_batch(
        spark, spark.createDataFrame(BATCH1, SCHEMA), index_dir, pairs_dir
    )
    before = _bands_rows(spark, index_dir)

    # simulate the crash: materialize gen=1 data but no CURRENT pointer
    bands_path, sh_path = index_paths(index_dir)
    spark.read.parquet(bands_path).write.mode("overwrite").parquet(
        os.path.join(index_dir, "gen=1", "bands")
    )
    assert current_generation(index_dir) is None
    assert index_paths(index_dir)[0] == bands_path  # readers: old index

    # replayed compaction overwrites gen=1... no — it allocates the NEXT
    # generation only off the POINTER, so the half-written gen=1 is simply
    # rewritten by the real run (overwrite mode), then the pointer swaps
    gen = compact_band_index(spark, index_dir)
    assert gen == 1 and current_generation(index_dir) == 1
    assert _bands_rows(spark, index_dir) == before

    # replay the whole compaction again: deterministic content, next gen
    gen2 = compact_band_index(spark, index_dir)
    assert gen2 == 2 and _bands_rows(spark, index_dir) == before

    prune_generations(index_dir)
    # gen=1 and the legacy flat layout go; gen=2 (current) stays
    assert os.path.isdir(os.path.join(index_dir, "gen=2", "bands"))
    assert not os.path.isdir(os.path.join(index_dir, "gen=1"))
    assert not os.path.isdir(os.path.join(index_dir, "bands"))
    assert _bands_rows(spark, index_dir) == before


def test_writer_lock_serializes_appends_and_compaction(spark, tmp_path):
    """The concurrent-writer hazard: an append landing in the old
    generation after compaction's snapshot would be silently dropped.
    Both writers take the same lease — while one holds it, the other
    times out instead of racing."""
    import pytest

    from purldb_spark.streaming.compact_stream import writer_lock

    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    index_new_batch(spark, spark.createDataFrame(BATCH1, SCHEMA), index_dir, pairs_dir)

    with writer_lock(index_dir):
        with pytest.raises(TimeoutError):
            index_new_batch(
                spark,
                spark.createDataFrame(BATCH2, SCHEMA),
                index_dir,
                pairs_dir,
                lock_timeout=0.15,
            )
        with pytest.raises(TimeoutError):
            compact_band_index(spark, index_dir, lock_timeout=0.15)

    # released: both writers proceed, and the post-compaction append
    # extends the new generation (pointer resolved under the lock)
    assert compact_band_index(spark, index_dir) == 1
    index_new_batch(spark, spark.createDataFrame(BATCH2, SCHEMA), index_dir, pairs_dir)
    assert {d for d, _, _ in _bands_rows(spark, index_dir)} == {1, 2, 3, 4}
    assert (2, 1) in _pairs(spark, pairs_dir)


def test_writer_lock_crashed_holder_releases_automatically(tmp_path):
    """The lease is the kernel flock, not the file: a SIGKILLed holder's
    lock releases the instant its process dies — no stale-holder
    detection, so no break-the-lock TOCTOU (r12 ADVICE: two contenders
    could both read one stale holder and the loser's remove deleted the
    winner's fresh lock, admitting two writers)."""
    import os
    import signal
    import subprocess
    import sys
    import time

    import pytest

    from purldb_spark.streaming.compact_stream import writer_lock

    index_dir = str(tmp_path / "index")
    os.makedirs(index_dir)
    lock = os.path.join(index_dir, "_WRITER.lock")

    # stale CONTENT (dead identity in the body) is irrelevant: nobody
    # holds the kernel lock, so acquisition is immediate
    with open(lock, "w") as fh:
        fh.write("999999999:12345")
    t0 = time.monotonic()
    with writer_lock(index_dir, timeout=5.0):
        assert time.monotonic() - t0 < 1.0

    # a subprocess takes the flock and is SIGKILLed mid-hold: the kernel
    # releases on process death, so a contender acquires promptly
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time;"
            f"fd = os.open({lock!r}, os.O_CREAT | os.O_RDWR);"
            "fcntl.flock(fd, fcntl.LOCK_EX);"
            "print('held', flush=True);"
            "time.sleep(60)",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "held"
        with pytest.raises(TimeoutError):
            with writer_lock(index_dir, timeout=0.15):
                pass
        child.send_signal(signal.SIGKILL)
        child.wait()
        t0 = time.monotonic()
        with writer_lock(index_dir, timeout=5.0):
            assert time.monotonic() - t0 < 1.0
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    # the lock FILE persists (it is the flock anchor, never removed)
    assert os.path.exists(lock)


def test_legacy_bare_writer_lock_removed_on_acquire(tmp_path):
    """r13 advice: a CRASHED pre-flock holder's bare 'WRITER.lock' must
    not survive in the index root — legacy flat ANN layouts read
    index_dir itself as parquet, where the stray file breaks the scan.
    The recorded pid is a real exited child, so the holder is provably
    dead (not a guess about an arbitrary pid number)."""
    import os
    import subprocess

    from purldb_spark.streaming.compact_stream import writer_lock

    child = subprocess.Popen(["true"])
    child.wait()  # reaped: the pid is dead and cannot be recycled yet

    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    legacy = os.path.join(index_dir, "WRITER.lock")
    open(legacy, "w").write(str(child.pid))
    with writer_lock(index_dir):
        assert not os.path.exists(legacy)
        assert os.path.exists(os.path.join(index_dir, "_WRITER.lock"))


def test_legacy_bare_writer_lock_live_holder_survives(tmp_path):
    """r14 advice: the old O_CREAT|O_EXCL protocol relies on the file's
    EXISTENCE for mutual exclusion — removing a LIVE holder's file during
    a rolling upgrade would admit a second old-protocol writer. A legacy
    lock recording a live pid (ours) must survive acquire; so must an
    unparseable-but-recent body (attribution unknown: assume live)."""
    import os

    from purldb_spark.streaming.compact_stream import writer_lock

    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    legacy = os.path.join(index_dir, "WRITER.lock")
    open(legacy, "w").write(str(os.getpid()))
    with writer_lock(index_dir):
        assert os.path.exists(legacy)

    open(legacy, "w").write("not-a-pid")
    with writer_lock(index_dir):
        assert os.path.exists(legacy)


def test_state_layout_is_spelled_only_in_compact_stream():
    """Layout fence: the epoch-partition path format, the epoch-partition
    listing pattern and the CURRENT pointer swap live in compact_stream
    alone — every other streaming module calls epoch_path / epoch_dirs /
    publish_generation instead of keeping its own copy."""
    import glob
    import re

    import purldb_spark.streaming as pkg

    fences = {
        "batch= path format": re.compile(r"""f["']batch=\{"""),
        "batch= listing pattern": re.compile(
            r"""batch=\(\\d|startswith\(\s*["']batch="""
        ),
        "CURRENT os.replace": re.compile(r"os\.replace\("),
    }
    owners: dict[str, list[str]] = {name: [] for name in fences}
    for path in sorted(glob.glob(os.path.join(pkg.__path__[0], "*.py"))):
        src = open(path).read()
        for name, rx in fences.items():
            if rx.search(src):
                owners[name].append(os.path.basename(path))
    assert owners == {name: ["compact_stream.py"] for name in fences}
