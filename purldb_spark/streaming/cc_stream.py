"""Incremental connected-components maintenance — the streaming face of
dedup clustering (operators/dedup.py::connected_components, whose batch
query dedup_cluster_cc proves the closure math against a WITH RECURSIVE
oracle; this module is how the cluster table is MAINTAINED as near-dup
pairs stream in from the incremental dedup face).

Per micro-batch of new (doc_a, doc_b) pairs, only the AFFECTED subgraph
relabels:

  1. touched labels = labels of the batch's endpoints already in state;
  2. the affected subgraph = the batch's edges UNION one (node, label)
     edge per state row in a touched component — the label node is the
     component's minimum, so these star edges are a connectivity-exact
     contraction of each old component (same components, fewer edges);
  3. pointer-jumping CC over that subgraph (the batch operator, O(log
     diameter) waves over O(batch + touched-state) rows);
  4. write relabeled + untouched-carried-forward labels as THIS EPOCH's
     full snapshot.

Step 0 (before any of that): batch edges whose two endpoints ALREADY
share a stored label are dropped — by the convergent-monotone invariant
they cannot change any label, so they are no-ops. This is what keeps a
mega-component cheap: near-dup graphs grow giant boilerplate clusters,
and without the filter one internal edge would re-run pointer-jumping
over the whole component every batch. With it, per-batch RELABELING work
is O(batch x NEWLY-MERGED component size) — only components a batch
actually extends or bridges are contracted and relabeled — independent
of the number (and the size) of stored components the batch merely
touches internally. The touched-label probe is one equi-join against the
stored label table (read like any index — partitioned by node at scale,
so the batch's endpoints hit their slices, not a full scan) — the
equivalent of dedup_stream's O(batch x collision rate) contract, one
level up the pipeline. Corpora where even the NEWLY-merged slice of a
mega-component is too hot (adversarial boilerplate floods) pass
``max_component``: edges that would relabel a component larger than the
cap are DEFERRED to a side table instead of relabeled inline (the
per-batch bound becomes O(batch x min(cap, newly-merged component))).
Folding them back in is epoch-sensitive: on a LIVE stream the fold must
ride the stream lineage itself — ``flush_in_band=True`` on every Nth
batch (``cc_sink(..., flush_every=N)``) unions the pending ledger into
that batch's own epoch uncapped, because a side-epoch flush either
collides with a stream epoch (partition overwrite clobbers a snapshot)
or sits above the stream's below-own-epoch reads and is never seen.
:func:`flush_deferred` remains the STOPPED-stream flush (one uncapped
pass at an epoch above all written ones). Either way, deferral only
ever DELAYS label convergence (min-labels are order-independent), so
streamed-after-flush == batch stays provable; labels read between a
deferral and its flush are conservative (two clusters not yet merged),
never wrong about membership already applied. :func:`deferred_stats`
reports pending-edge count / partition span / components touched — the
numbers that justify a flush cadence.

State taxonomy (fourth pattern in the catalogue after ledger, idempotent
monoid, epoch partials): CONVERGENT MONOTONE state — a component's label
is the min doc id over its members, merges only ever DECREASE labels, and
the result is independent of pair arrival order (min is commutative/
associative/idempotent), which is what makes streamed == batch provable.
Snapshots use the epoch-partition recipe: each epoch OVERWRITES
``labels/batch=<epoch_id>`` with the full (small — only docs that appear
in near-dup pairs, a thin slice of the corpus) label table; the batch body
reads the latest partition STRICTLY BELOW its own epoch, so a replay
recomputes from the same prior state and rewrites the same snapshot
(idempotent), and a half-written crash partition is invisible to the
replay that heals it. At 100 TB the snapshot-per-epoch becomes a Delta /
Iceberg MERGE of only the relabeled rows; the subgraph algebra is
unchanged.

Retention: superseded ``batch=<epoch>`` snapshots are NOT pruned
implicitly (a reader that resolved the latest epoch pre-write keeps its
files, mirroring compact_stream's generation contract). A long-running
stream must call compact_stream.prune_epochs on ``labels_dir``
periodically — keep >= 2 so the below-own-epoch replay read always has
a committed predecessor.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.dedup import connected_components
from purldb_spark.streaming.compact_stream import epoch_dirs, epoch_path


def latest_epoch(labels_dir: str, below: int | None = None) -> int | None:
    """Highest committed epoch id under ``labels_dir`` (optionally only
    epochs strictly below ``below`` — what a replaying batch body reads)."""
    epochs = [
        e for e in epoch_dirs(labels_dir) if below is None or e < below
    ]
    return max(epochs, default=None)


def current_labels(
    spark: SparkSession, labels_dir: str, below: int | None = None
) -> DataFrame | None:
    """The (node, label) snapshot of the latest committed epoch, or None."""
    ep = latest_epoch(labels_dir, below)
    if ep is None:
        return None
    return spark.read.parquet(epoch_path(labels_dir, ep)).select(
        "node", "label"
    )


def novel_pairs(pairs: DataFrame, prior: DataFrame) -> DataFrame:
    """Batch edges that can actually change a label: at least one endpoint
    is unlabeled, or the endpoints carry DIFFERENT stored labels. Edges
    internal to an existing component are provable no-ops (labels are the
    component min and merges only decrease them — convergent monotone), so
    dropping them BEFORE the affected subgraph is built is what bounds
    relabel work by the newly-merged component, not the largest touched
    one (one internal edge into a giant boilerplate cluster relabels
    nothing)."""
    la = prior.select(F.col("node").alias("doc_a"), F.col("label").alias("_la"))
    lb = prior.select(F.col("node").alias("doc_b"), F.col("label").alias("_lb"))
    return (
        pairs.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .filter(
            F.col("_la").isNull()
            | F.col("_lb").isNull()
            | (F.col("_la") != F.col("_lb"))
        )
        .select("doc_a", "doc_b")
    )


def split_by_component_size(
    pairs: DataFrame, prior: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """(inline_pairs, deferred_pairs): an edge is deferred when either
    endpoint's stored component holds more than ``cap`` members
    (unlabeled endpoints count as singletons, so fresh-doc edges are
    never deferred). Called AFTER novel_pairs, so only edges that would
    actually relabel are sized."""
    sizes = prior.groupBy("label").agg(F.count(F.lit(1)).alias("_n"))
    la = prior.select(F.col("node").alias("doc_a"), F.col("label").alias("_la"))
    lb = prior.select(F.col("node").alias("doc_b"), F.col("label").alias("_lb"))
    p = (
        pairs.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .join(
            sizes.select(F.col("label").alias("_la"), F.col("_n").alias("_na")),
            "_la",
            "left",
        )
        .join(
            sizes.select(F.col("label").alias("_lb"), F.col("_n").alias("_nb")),
            "_lb",
            "left",
        )
    )
    big = (
        F.greatest(
            F.coalesce(F.col("_na"), F.lit(1)),
            F.coalesce(F.col("_nb"), F.lit(1)),
        )
        > cap
    )
    return (
        p.filter(~big).select("doc_a", "doc_b"),
        p.filter(big).select("doc_a", "doc_b"),
    )


_FLUSHED_THRU = "_flushed_thru"


def _read_flushed_thru(deferred_dir: str) -> int | None:
    """Epoch through which deferred partitions have been folded into a
    COMMITTED snapshot (the in-band flush marker), or None."""
    try:
        with open(os.path.join(deferred_dir, _FLUSHED_THRU)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def _pending_deferred(
    spark: SparkSession, deferred_dir: str, below: int
) -> DataFrame | None:
    """Deferred edges not yet folded, for an in-band flush at epoch
    ``below``: first GC partitions already folded into a committed
    PREDECESSOR snapshot (epoch < marker, where marker < ``below`` — the
    marker snapshot is then <= this batch's prior read, so those folds
    are already in ``prior`` and a replay of this epoch no longer needs
    the files), then read the remaining partitions with epoch < ``below``.
    Partitions in [marker, below) are NOT deleted here — this batch's own
    replay must be able to re-read them (its prior read sits below its
    own epoch, i.e. below the snapshot their fold lands in)."""
    marker = _read_flushed_thru(deferred_dir)
    if marker is not None and marker < below:
        for ep, path in epoch_dirs(deferred_dir).items():
            if ep < marker:
                shutil.rmtree(path, ignore_errors=True)
    parts = [p for ep, p in epoch_dirs(deferred_dir).items() if ep < below]
    if not parts:
        return None
    return (
        spark.read.option("basePath", deferred_dir)
        .parquet(*parts)
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def merge_pairs_batch(
    spark: SparkSession,
    batch_pairs: DataFrame,
    labels_dir: str,
    epoch_id: int = 0,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_component: int | None = None,
    deferred_dir: str | None = None,
    flush_in_band: bool = False,
) -> None:
    """One micro-batch body: relabel only the components the batch's
    pairs touch, carry every other component forward, write this epoch's
    snapshot (partition overwrite — replay-idempotent). ``a_col``/
    ``b_col`` name the pair endpoints — dedup_stream's decisions table
    uses (new_id, index_id).

    With ``max_component`` (requires ``deferred_dir``), edges that would
    relabel a component larger than the cap are written to
    ``deferred_dir/batch=<epoch>`` (overwrite — replay-idempotent)
    instead of relabeled inline. Module docstring: deferral only delays
    min-label convergence, never corrupts it.

    ``flush_in_band=True`` folds the pending deferral ledger into THIS
    batch's own epoch, uncapped — the only flush shape that is safe
    while the stream is live: a flush at a side epoch either collides
    with a stream epoch (partition overwrite clobbers one of the two
    snapshots) or lands above the stream's below-own-epoch reads and is
    never seen (r12 ADVICE). In-band, the folded merges ride the normal
    epoch lineage, replay re-reads the same ledger partitions (they are
    GC'd only after a LATER flush proves their folds live in a committed
    predecessor snapshot — see _pending_deferred), and the snapshot
    rewrites identically. Wire a cadence with ``cc_sink(...,
    flush_every=N)``."""
    pairs = (
        batch_pairs.select(
            F.col(a_col).cast("long").alias("doc_a"),
            F.col(b_col).cast("long").alias("doc_b"),
        )
        .filter(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .dropDuplicates()
    )
    flush_edges: DataFrame | None = None
    if flush_in_band:
        if deferred_dir is None:
            raise ValueError("flush_in_band requires deferred_dir")
        flush_edges = _pending_deferred(spark, deferred_dir, below=int(epoch_id))
    prior = current_labels(spark, labels_dir, below=int(epoch_id))

    if prior is None:
        if flush_edges is not None:
            pairs = pairs.unionByName(flush_edges).dropDuplicates()
        labels = connected_components(pairs, "doc_a", "doc_b")
    else:
        prior = prior.localCheckpoint(eager=True)  # one read, four uses
        # no-op edges (both endpoints already co-labeled) out FIRST:
        # relabel cost is bounded by the newly-merged components only
        pairs = novel_pairs(pairs, prior)
        if max_component is not None:
            if deferred_dir is None:
                raise ValueError("max_component requires deferred_dir")
            pairs, deferred = split_by_component_size(
                pairs, prior, int(max_component)
            )
            deferred.write.mode("overwrite").parquet(
                epoch_path(deferred_dir, epoch_id)
            )
        if flush_edges is not None:
            # deferred edges bypass the cap by construction (they were
            # deferred BECAUSE their components are big); novel_pairs
            # still drops any whose merge already landed
            pairs = pairs.unionByName(
                novel_pairs(flush_edges, prior)
            ).dropDuplicates()
        ends = (
            pairs.select(F.col("doc_a").alias("node"))
            .unionByName(pairs.select(F.col("doc_b").alias("node")))
            .dropDuplicates()
        )
        touched = (
            prior.join(ends, "node", "left_semi")
            .select("label")
            .dropDuplicates()
        )
        # star contraction of each touched component: node—label edges are
        # connectivity-exact (label IS a member, the component minimum)
        star = prior.join(
            F.broadcast(touched), "label", "left_semi"
        ).filter(F.col("node") != F.col("label"))
        sub_edges = pairs.unionByName(
            star.select(
                F.col("node").alias("doc_a"), F.col("label").alias("doc_b")
            )
        )
        relabeled = connected_components(sub_edges, "doc_a", "doc_b")
        untouched = prior.join(F.broadcast(touched), "label", "left_anti")
        labels = untouched.unionByName(relabeled).dropDuplicates()

    labels.select("node", "label").write.mode("overwrite").parquet(
        epoch_path(labels_dir, epoch_id)
    )
    if flush_in_band and flush_edges is not None:
        # marker AFTER the snapshot commit: a crash in between replays
        # the epoch with the old marker, so the ledger partitions it
        # needs are still ungarbage-collected
        with open(os.path.join(deferred_dir, _FLUSHED_THRU), "w") as fh:
            fh.write(str(int(epoch_id)))


def deferred_stats(
    spark: SparkSession, deferred_dir: str, labels_dir: str | None = None
) -> dict:
    """Telemetry for choosing a flush cadence (r12 verdict #3): pending
    deferred-edge count, ledger partition span, the flushed-thru marker,
    and — with ``labels_dir`` — how many distinct stored components the
    pending edges touch. 'Pending' = partitions not yet covered by the
    marker; edges the marker covers are already folded and awaiting GC.

    ``oldest_epoch``/``newest_epoch`` span the partitions that actually
    HOLD pending edges: every capped epoch writes its (possibly empty)
    ledger partition, and an empty one carries no backlog — the age the
    flush cadence must bound is that of the oldest undrained EDGE, so a
    drained ledger reports None even while empty partition directories
    await GC (r13 verdict item 6)."""
    marker = _read_flushed_thru(deferred_dir)
    parts = [
        p
        for ep, p in epoch_dirs(deferred_dir).items()
        if marker is None or ep >= marker
    ]
    out = {
        "pending_edges": 0,
        "pending_partitions": len(parts),
        "oldest_epoch": None,
        "newest_epoch": None,
        "flushed_thru": marker,
        "components_touched": 0,
    }
    if not parts:
        return out
    raw = spark.read.option("basePath", deferred_dir).parquet(*parts)
    span = raw.agg(
        F.countDistinct("doc_a", "doc_b").alias("n"),
        F.min("batch").alias("lo"),
        F.max("batch").alias("hi"),
    ).first()
    out["pending_edges"] = int(span["n"])
    if span["n"]:
        out["oldest_epoch"] = int(span["lo"])
        out["newest_epoch"] = int(span["hi"])
    edges = raw.select("doc_a", "doc_b").dropDuplicates()
    if labels_dir is not None:
        prior = current_labels(spark, labels_dir)
        if prior is not None:
            ends = (
                edges.select(F.col("doc_a").alias("node"))
                .unionByName(edges.select(F.col("doc_b").alias("node")))
                .dropDuplicates()
            )
            out["components_touched"] = (
                prior.join(ends, "node", "left_semi")
                .select("label")
                .dropDuplicates()
                .count()
            )
    return out


def flush_deferred(
    spark: SparkSession,
    labels_dir: str,
    deferred_dir: str,
    epoch_id: int,
) -> int:
    """STOPPED-STREAM flush: fold every deferred edge into the label
    table with ONE uncapped relabel pass at ``epoch_id``, then clear the
    deferral ledger (partitions + marker). ``epoch_id`` must exceed every
    previously WRITTEN epoch, and NO stream may be writing ``labels_dir``
    concurrently: a live stream's epochs advance sequentially, so a side
    flush epoch either collides with a stream epoch (partition overwrite
    clobbers one snapshot) or sits above the stream's below-own-epoch
    reads and shadows later batches (r12 ADVICE). For a live stream use
    ``merge_pairs_batch(..., flush_in_band=True)`` / ``cc_sink(...,
    flush_every=N)``, which folds through the stream lineage itself.
    Crash-idempotent: a re-flush re-reads edges whose merges already
    landed, novel_pairs drops them as co-labeled, the snapshot rewrites
    identically, and the ledger is cleared again. Returns the number of
    edges folded."""
    parts = list(epoch_dirs(deferred_dir).values())
    if not parts:
        return 0
    edges = (
        spark.read.option("basePath", deferred_dir)
        .parquet(*parts)
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    n = edges.count()
    if n:
        merge_pairs_batch(spark, edges, labels_dir, epoch_id)
    for d in parts:
        shutil.rmtree(d, ignore_errors=True)
    with open(os.path.join(deferred_dir, _FLUSHED_THRU), "w") as fh:
        fh.write(str(int(epoch_id)))
    return n


def cc_sink(
    spark: SparkSession,
    labels_dir: str,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_component: int | None = None,
    deferred_dir: str | None = None,
    flush_every: int | None = None,
):
    """foreachBatch callable wiring merge_pairs_batch into a pair stream
    (e.g. ``cc_sink(spark, d, "new_id", "index_id")`` over the decisions
    table dedup_stream appends). With ``max_component``/``deferred_dir``,
    ``flush_every=N`` folds the deferral ledger back in through every
    Nth epoch's own lineage (in-band — the only live-stream-safe flush;
    see merge_pairs_batch). Epoch 0 never flushes (nothing deferred
    yet)."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        flush = (
            flush_every is not None
            and epoch_id > 0
            and int(epoch_id) % int(flush_every) == 0
        )
        merge_pairs_batch(
            spark,
            batch,
            labels_dir,
            epoch_id,
            a_col,
            b_col,
            max_component=max_component,
            deferred_dir=deferred_dir,
            flush_in_band=flush,
        )

    return process
