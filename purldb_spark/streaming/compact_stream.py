"""Owner of the streaming state-directory layout, and the compaction +
retention face of the persistent indexes. Every foreachBatch face keeps
its state in one of two layouts, and only this module spells either:

* **Epoch partitions**, ``<root>/batch=<epoch>`` (cc labels/deferrals,
  chunk ledger/worklist, cms/hist/interval partials, the document
  ledger, nb/kmeans shards, shot assignments): each micro-batch
  OVERWRITES its own partition, so a replayed epoch rewrites identical
  rows and heals a crash-truncated one. :func:`epoch_path` names a
  partition, :func:`epoch_dirs` lists the committed ones by path (never
  a whole-tree read, so torn files stay untouched), :func:`prune_epochs`
  drops all but the newest ``keep``.
* **Generations**, ``<dir>/gen=<g>/<table>`` plus a ``CURRENT`` pointer
  (band/simhash/ANN indexes, nb/kmeans shards, shot state): a rewrite
  lands the full new state under a fresh generation, then
  :func:`publish_generation` swaps ``CURRENT`` atomically (tmp file +
  ``os.replace``) — a crash at ANY point before the swap leaves the old
  generation live and complete. Reads and appends resolve through
  :func:`table_path` (the flat ``<dir>/<table>`` before the first swap);
  :func:`prune_generations` removes superseded generations and the flat
  layout.

Index compaction rewrites each table deduplicated and clustered by its
probe key — a no-op on the row SET that collapses per-epoch file litter
— optionally semi-joined to a retention window owned by the document
ledger (ledger_stream knows ingest times; the index stores none), so the
index is bounded by the window, not history. Index generations are
pruned by an explicit call, so a reader that resolved its paths pre-swap
keeps its files. Shard ledgers (nb/kmeans) compact by folding every
shard but the newest — the one epoch Structured Streaming can replay
keeps its own partition to overwrite — and prune inline.

Concurrent READERS are therefore always safe. WRITERS serialize on
:func:`writer_lock`: compaction snapshots the old generation, so an
append landing after that snapshot (or straddling the swap) would be
silently absent from the new generation and deleted by pruning. The
lease is keyed by (pid, /proc start-ticks), so a dead or pid-recycled
holder is broken and a live one waited on; appends are short, so
compaction's hold is the only pause a stream sees. At 100 TB both
writers become table-format transactions (Delta/Iceberg optimistic
commit + RewriteFiles validation), whose conflict detection checks the
same invariant.

Streamed == batch invariant (tests/test_compact_stream.py): pairs
detected across batches with a compaction in the middle == pairs from
the same batches without it == the batch dedup math.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CURRENT = "CURRENT"
# underscore prefix: Spark's parquet reader skips _-prefixed files, so the
# lock anchor can live in a directory that IS a parquet root (the legacy
# flat ANN layout reads index_dir itself — a bare 'WRITER.lock' there got
# scanned as a data file and failed the read)
_WRITER_LOCK = "_WRITER.lock"
_EPOCH_DIR = re.compile(r"batch=(\d+)")
# the nb/kmeans shard-ledger table: a subdir, never the stats-dir root,
# where batch=* partition discovery would collide with gen=<g> dirs
SHARDS = "shards"


def _proc_ident(pid: int) -> str | None:
    """``pid:starttime`` for a live process, None for a dead one — the
    start-ticks component (field 22 of /proc/pid/stat) defeats pid
    recycling: a recycled pid has a different start time, so its lease
    reads as stale rather than live."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
        # fields after the last ')' survive spaces in the comm field;
        # starttime is overall field 22 -> index 19 post-comm
        fields = data[data.rindex(b")") + 2 :].split()
        return f"{pid}:{fields[19].decode()}"
    except (OSError, ValueError, IndexError):
        return None


def _remove_stale_legacy_lock(index_dir: str) -> None:
    """Remove a pre-r13 bare ``WRITER.lock`` only when its holder is
    provably dead. The old O_CREAT|O_EXCL protocol relies on the file's
    EXISTENCE for mutual exclusion, so unconditional removal during a
    rolling upgrade would actively admit a second old-protocol writer
    next to a LIVE holder (r14 advice) — strictly worse than the
    mixed-fleet non-interop the docstring already warns about. The old
    body recorded the holder's pid: if that pid is alive we leave the
    file alone (the stray-parquet-file nuisance is the lesser evil); a
    dead pid, or an unparseable body older than 10 minutes, is a crashed
    holder whose file no longer guards anything."""
    legacy = os.path.join(index_dir, "WRITER.lock")
    try:
        with open(legacy) as fh:
            body = fh.read(64).strip()
    except OSError:
        return  # no legacy file (the overwhelmingly common path)
    try:
        pid = int(body.split(":", 1)[0].split()[0])
    except (ValueError, IndexError):
        pid = None
    if pid is not None:
        if _proc_ident(pid) is not None:
            return  # live old-protocol holder — do not break its lock
    else:
        try:
            if time.time() - os.stat(legacy).st_mtime < 600.0:
                return  # unattributable and recent: assume live
        except OSError:
            return
    with contextlib.suppress(OSError):
        os.remove(legacy)


@contextlib.contextmanager
def writer_lock(index_dir: str, timeout: float = 60.0, poll: float = 0.05):
    """Single-writer lease over one state directory (appenders + compaction).

    flock(LOCK_EX) on a PERSISTENT lock file is the lease: the kernel
    releases it automatically when the holder's fd closes — including
    crash and SIGKILL — so there is no stale-holder state to detect and
    no break path to race (the r12 create/remove protocol had a TOCTOU:
    two contenders could both read the same stale holder, the second's
    remove then deleting the first's freshly-acquired lock — two writers
    live, the exact silent-row-loss the lease exists to prevent). The
    file body records the holder's (pid, start-ticks) identity for
    DIAGNOSTICS only — it never participates in acquisition. Contenders
    poll LOCK_NB up to ``timeout`` then raise TimeoutError. Two fds in
    one process conflict too (flock is per open-file-description), so
    in-process append vs compaction serialize the same way. Single-host
    by construction — the 100 TB deployment replaces this with the table
    format's transactional commit (module docstring).

    Single-writer UPGRADE caveat: this flock lease does not interoperate
    with the pre-r13 O_CREAT|O_EXCL protocol on the bare 'WRITER.lock'
    name — a mixed-version fleet (one old writer, one new) would admit
    two writers; upgrade all writers of an index together. A leftover
    bare 'WRITER.lock' whose recorded holder is provably DEAD is removed
    on acquire (it no longer guards anything, and in legacy flat ANN
    roots it sits where spark.read.parquet(index_dir) scans it as a
    stray data file — r13 advice); one whose pid is still alive is left
    in place so a live old-protocol writer's exclusion survives a
    rolling upgrade (r14 advice: _remove_stale_legacy_lock)."""
    import fcntl

    os.makedirs(index_dir, exist_ok=True)
    path = os.path.join(index_dir, _WRITER_LOCK)
    _remove_stale_legacy_lock(index_dir)
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    deadline = time.monotonic() + timeout
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except (BlockingIOError, PermissionError):
                if time.monotonic() > deadline:
                    try:
                        with open(path) as fh:
                            holder = fh.read().strip()
                    except OSError:
                        holder = "?"
                    raise TimeoutError(
                        f"writer lock {path} held by pid {holder}"
                    )
                time.sleep(poll)
        # holder identity, for operators reading the file on a timeout
        me = _proc_ident(os.getpid()) or str(os.getpid())
        os.ftruncate(fd, 0)
        os.pwrite(fd, me.encode(), 0)
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


def epoch_path(root: str, epoch: int) -> str:
    """The ``batch=<epoch>`` partition of an epoch-partitioned table."""
    return os.path.join(root, f"batch={int(epoch)}")


def epoch_dirs(root: str) -> dict[int, str]:
    """Committed ``batch=<epoch>`` partitions under ``root`` as
    {epoch: path}, in ascending epoch order ({} when ``root`` is
    missing)."""
    if not os.path.isdir(root):
        return {}
    found = {
        int(m.group(1)): os.path.join(root, d)
        for d in os.listdir(root)
        if (m := _EPOCH_DIR.fullmatch(d))
    }
    return dict(sorted(found.items()))


def prune_epochs(root: str, keep: int = 2) -> list[str]:
    """Best-effort removal of every epoch partition below the ``keep``
    highest; returns the removed paths. Called explicitly by the stream
    owner, never from a batch body, so in-flight readers keep their
    files. Keep at least the window any reader still needs: ``keep >= 2``
    leaves cc_stream's below-own-epoch replay read a committed
    predecessor, and a document ledger must keep its largest retention
    window (a pruned epoch no longer contributes to ``retained_docs``)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    dirs = epoch_dirs(root)
    removed: list[str] = []
    for ep in sorted(dirs, reverse=True)[keep:]:
        shutil.rmtree(dirs[ep], ignore_errors=True)
        removed.append(dirs[ep])
    return removed


def current_generation(index_dir: str) -> int | None:
    """The generation the ``CURRENT`` pointer names, or None for the
    flat layout (tables directly under index_dir, before any swap)."""
    try:
        with open(os.path.join(index_dir, _CURRENT)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def table_path(index_dir: str, table: str) -> str:
    """Path of one table in the live generation — the generation pointer
    machinery is table-agnostic, so every face's reads AND appends
    resolve through here (minhash bands/shingles/exact, simhash
    simbands, ANN codes, nb/kmeans shards, shot state)."""
    gen = current_generation(index_dir)
    root = index_dir if gen is None else os.path.join(index_dir, f"gen={gen}")
    return os.path.join(root, table)


def index_paths(index_dir: str) -> tuple[str, str]:
    """(bands_path, shingles_path) of the live index generation — the one
    resolution point dedup_stream's reads AND appends go through, so a
    post-compaction batch lands its keys in the compacted generation."""
    return table_path(index_dir, "bands"), table_path(index_dir, "shingles")


def exact_index_path(index_dir: str) -> str:
    """The (md5, rep_id) exact-duplicate table of the live generation —
    the pre-collapse index dedup_stream consults before shingling
    (identical texts never reach the band index twice); compaction
    rewrites it alongside bands/shingles."""
    return table_path(index_dir, "exact")


def publish_generation(state_dir: str, write: Callable[[str], None]) -> int:
    """Publish the next generation: ``write(gen_root)`` lands the full new
    state under ``<state_dir>/gen=<g>``, then ``CURRENT`` swaps to ``g``
    atomically (tmp write + os.replace). An exception in ``write``, or a
    crash anywhere before the replace, leaves CURRENT naming the old,
    complete generation. The caller holds :func:`writer_lock`. Returns
    ``g``."""
    gen = (current_generation(state_dir) or 0) + 1
    write(os.path.join(state_dir, f"gen={gen}"))
    tmp = os.path.join(state_dir, "." + _CURRENT + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(gen))
    os.replace(tmp, os.path.join(state_dir, _CURRENT))
    return gen


def prune_generations(index_dir: str) -> list[str]:
    """Best-effort removal of superseded ``gen=<g>`` directories and of
    the flat layout (the live generation's tables found at the root);
    returns the removed paths. Index compactions leave this to an
    explicit call once the swap is known safe, so in-flight readers keep
    their files; the shard ledgers and shot state call it right after
    their swap (a crash in between leaves garbage the next prune removes,
    never a wrong read — readers resolve through the pointer)."""
    cur = current_generation(index_dir)
    removed: list[str] = []
    if cur is None or not os.path.isdir(index_dir):
        return removed
    live = os.path.join(index_dir, f"gen={cur}")
    flat_tables = set(os.listdir(live)) if os.path.isdir(live) else set()
    for d in os.listdir(index_dir):
        path = os.path.join(index_dir, d)
        stale_gen = (
            d.startswith("gen=")
            and d[4:].isdigit()
            and int(d[4:]) < cur
        )
        if (stale_gen or d in flat_tables) and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
        elif d == "_SUCCESS" or (
            d.startswith("part-") and d.endswith(".parquet")
        ):
            # pre-generation ANN flat layout: loose parquet at the index
            # root, shadowed by the live generation once CURRENT exists
            with contextlib.suppress(OSError):
                os.remove(path)
                removed.append(path)
    return removed


def append_unseen(
    spark: SparkSession, rows: DataFrame, path: str, keys: Sequence[str]
) -> None:
    """Append ``rows`` to the parquet table at ``path``, minus those whose
    ``keys`` it already holds — the replay guard of every anti-join
    ledger: a re-run micro-batch recomputes identical rows and writes
    nothing twice."""
    if os.path.isdir(path):
        seen = spark.read.parquet(path).select(*keys)
        rows = rows.join(seen, list(keys), "left_anti")
    rows.write.mode("append").parquet(path)


# Index compaction specs: (table, retention key, cluster keys) per table,
# each table clustered by its probe key. The first table must exist for a
# compaction to run, the others are carried when present, and the
# retained frame carries the first table's retention key.
_BAND_TABLES = (
    # the per-batch candidate join probes (band_idx, band_key), the
    # verify join probes postings on sh
    ("bands", "doc_id", ("band_idx", "band_key")),
    ("shingles", "doc_id", ("sh",)),
    # per-batch exact lookups equi-join on md5; an md5 row whose
    # REPRESENTATIVE is evicted is dropped, so a future exact dup of that
    # text re-enters as a fresh representative (the same
    # forget-the-window semantics the band rows get)
    ("exact", "rep_id", ("md5",)),
)
_SIMHASH_TABLES = (("simbands", "doc_id", ("band_idx", "band_key")),)
_ANN_TABLES = (("codes", "vec_id", ("cell",)),)


def _compact_index(
    spark: SparkSession,
    index_dir: str,
    tables: tuple[tuple[str, str, tuple[str, ...]], ...],
    retained: DataFrame | None,
    n_partitions: int | None,
    lock_timeout: float,
    resolve: Callable[[str, str], str] = table_path,
) -> int | None:
    """Rewrite an index's tables as one fresh generation (module
    docstring) and swap CURRENT to it; None when there is no index.

    Holds :func:`writer_lock` across the whole read->write->swap so no
    concurrent append can land in the old generation after this function
    has snapshotted it. The writes execute the reads, so every
    file-listing of the old generation happens inside the critical
    section."""
    with writer_lock(index_dir, timeout=lock_timeout):
        frames: dict[str, tuple[DataFrame, tuple[str, ...]]] = {}
        for table, key, cluster in tables:
            path = resolve(index_dir, table)
            if not os.path.isdir(path):
                if not frames:
                    return None
                continue
            rows = spark.read.parquet(path).dropDuplicates()
            if retained is not None:
                keep = retained.select(
                    F.col(tables[0][1]).alias(key)
                ).dropDuplicates()
                rows = rows.join(F.broadcast(keep), key, "left_semi")
            frames[table] = (rows, cluster)
        if n_partitions is None:
            from purldb_spark.conf import shuffle_partitions

            n_partitions = shuffle_partitions(spark)

        def write(gen_root: str) -> None:
            for table, (rows, cluster) in frames.items():
                rows.repartition(n_partitions, *cluster).write.mode(
                    "overwrite"
                ).parquet(os.path.join(gen_root, table))

        return publish_generation(index_dir, write)


def compact_band_index(
    spark: SparkSession,
    index_dir: str,
    retained_docs: DataFrame | None = None,
    n_partitions: int | None = None,
    lock_timeout: float = 60.0,
) -> int | None:
    """Compact (and optionally retain) the MinHash band index — bands,
    shingles and the exact table — into a fresh generation, then swap
    CURRENT to it. ``retained_docs`` is a (doc_id) frame of documents to
    KEEP (the TTL window, derived by the caller from its document
    ledger); None keeps everything (pure compaction). Returns the new
    generation id, or None when there is no index yet."""
    return _compact_index(
        spark, index_dir, _BAND_TABLES, retained_docs, n_partitions,
        lock_timeout,
    )


def compact_simhash_index(
    spark: SparkSession,
    index_dir: str,
    retained_docs: DataFrame | None = None,
    n_partitions: int | None = None,
    lock_timeout: float = 60.0,
) -> int | None:
    """The simhash face of :func:`compact_band_index`: one table
    (simbands — fingerprints inlined, so retention is one semi-join on
    doc_id with no second table to keep consistent), clustered by the
    per-batch candidate equi-join's (band_idx, band_key). Returns the new
    generation id, or None when there is no index."""
    return _compact_index(
        spark, index_dir, _SIMHASH_TABLES, retained_docs, n_partitions,
        lock_timeout,
    )


def compact_ann_index(
    spark: SparkSession,
    index_dir: str,
    retained_vecs: DataFrame | None = None,
    n_partitions: int | None = None,
    lock_timeout: float = 60.0,
) -> int | None:
    """The ANN-codes face of :func:`compact_band_index`: rewrite the
    streamed (vec_id, cell, codes) table CLUSTERED BY CELL — the probe
    path's equi-join key, so a compacted index co-locates each cell's
    shortlist — with the ledger-owned retention semi-join on vec_id (a
    dropped vector leaves the index; FAISS remove_ids, as maintenance
    instead of tombstones). Reads resolve through ann_stream.codes_path,
    which also knows the legacy flat layout. Returns the new generation
    id, or None when there is no index."""
    from purldb_spark.streaming.ann_stream import codes_path

    return _compact_index(
        spark, index_dir, _ANN_TABLES, retained_vecs, n_partitions,
        lock_timeout, resolve=lambda d, _table: codes_path(d),
    )


def shard_totals(
    spark: SparkSession,
    stats_dir: str,
    keys: Sequence[str],
    sums: Sequence[str],
    paths: Sequence[str] | None = None,
) -> DataFrame:
    """SUM of every live shard (or only ``paths``) on the ``keys`` grid —
    for a commutative monoid of counts, equal to one pass over all the
    batches the shards came from."""
    root = table_path(stats_dir, SHARDS)
    shards = spark.read.option("basePath", root).parquet(*(paths or [root]))
    return shards.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in sums]
    )


def compact_shards(
    spark: SparkSession,
    stats_dir: str,
    keys: Sequence[str],
    sums: Sequence[str],
    lock_timeout: float = 60.0,
) -> int | None:
    """Roll a shard ledger up into a fresh generation: fold every shard
    EXCEPT the newest into one base partition (keyed by the highest
    folded epoch), carry the newest shard unchanged so the one replayable
    epoch still overwrites its own partition, swap CURRENT, then prune
    the old generation. Holds the writer lock across read -> write ->
    swap. Returns the new generation id, or None when there are fewer
    than two shards to fold."""
    with writer_lock(stats_dir, timeout=lock_timeout):
        root = table_path(stats_dir, SHARDS)
        parts = epoch_dirs(root)
        if len(parts) < 2:
            return None
        *older, newest = parts
        base = shard_totals(
            spark, stats_dir, keys, sums, [parts[e] for e in older]
        )

        def write(gen_root: str) -> None:
            shards = os.path.join(gen_root, SHARDS)
            base.write.mode("overwrite").parquet(epoch_path(shards, older[-1]))
            spark.read.parquet(parts[newest]).write.mode("overwrite").parquet(
                epoch_path(shards, newest)
            )

        gen = publish_generation(stats_dir, write)
        prune_generations(stats_dir)
        return gen
