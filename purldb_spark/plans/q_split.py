"""Leakage-safe train/val/test splitting (beyond-reference, LLM-pipeline
family): assign every document to a split by hashing its NEAR-DUP CLUSTER
id, not its own id, so near-duplicate documents can never straddle train
and eval — the contamination discipline every serious corpus release
applies (grouped splitting; the GroupShuffleSplit idea at corpus scale),
composed from this repo's own CC machinery.

split_leakage_safe -> one row per (method, split): document counts plus
near-dup-pair accounting. `by_doc` is the LABELED NAIVE BASELINE (hash
each doc independently — the leaked-pair columns show exactly the
train/eval contamination it causes); `by_cluster` hashes the connected-
component label (fixture_cache.dup_clusters; singletons are their own
cluster), and its leaked-pair count is ZERO for every split — an
invariant the DuckDB oracle proves independently by recomputing the
transitive closure with WITH RECURSIVE and re-deriving both assignments.
(The multiply-referenced oracle CTEs — shingles/pairs/near/edges/tall —
are AS MATERIALIZED per the repo's DuckDB convention: plain CTEs inline
and re-expand the N² shingle self-join at every reference, which OOM'd
the 2 GB probe in round 10 exactly like r8's knn_residual_ivfpq; with
MATERIALIZED the probe runs in 0.1 s at a 1 GB cap.)

Determinism contract: the split is the shared md5-percent convention
(first 8 hex chars as integer % 100 -> <80 train, <90 val, else test) on
a BIGINT id; all outputs are BIGINT counts — no floats anywhere.

Scale shape at 100 TB: assignment is one broadcast-or-shuffle left join
of docs against the materialized cluster table plus map-only hashing;
pair accounting joins the persistent near-dup pair table to the
assignment twice on doc-id equi-keys. Nothing scans text; the expensive
inputs (pairs, CC labels) are the dedup pipeline's already-materialized
state. Re-splitting after an incremental dedup batch only moves docs
whose cluster label changed — cluster-id hashing keeps every other
assignment stable (no global reshuffle on corpus growth)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.plans.registry import query

# md5-percent bucket of a BIGINT id (shared convention; 8 hex chars = 32
# bits stays positive in BIGINT on both engines)
_PCT_SPARK = (
    "pmod(cast(conv(substring(md5(concat('sp|', cast({id} as string))),"
    " 1, 8), 16, 10) as bigint), 100)"
)
_PCT_SQL = (
    "CAST(CAST(concat('0x', substring(md5('sp|' || CAST({id} AS VARCHAR)),"
    " 1, 8)) AS UBIGINT) % 100 AS BIGINT)"
)
_SPLIT_CASE = (
    "case when {pct} < 80 then 'train' when {pct} < 90 then 'val'"
    " else 'test' end"
)


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE shingles AS MATERIALIZED ({SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.5
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM near
      UNION SELECT doc_b, doc_a FROM near
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM edges e JOIN reach ON reach.node = e.a
    ),
    cc AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id
    ),
    tall AS MATERIALIZED (
      SELECT 'by_cluster' AS method, doc_id,
             {_SPLIT_CASE.format(pct=_PCT_SQL.format(id="cluster_id"))}
               AS split
      FROM assign
      UNION ALL
      SELECT 'by_doc' AS method, doc_id,
             {_SPLIT_CASE.format(pct=_PCT_SQL.format(id="doc_id"))} AS split
      FROM assign
    ),
    ndocs AS (
      SELECT method, split, CAST(count(*) AS BIGINT) AS n_docs
      FROM tall GROUP BY 1, 2
    ),
    pm AS (
      SELECT sa.method, sa.split AS split_a, sb.split AS split_b
      FROM near p
      JOIN tall sa ON sa.doc_id = p.doc_a
      JOIN tall sb ON sb.doc_id = p.doc_b AND sb.method = sa.method
    ),
    touch AS (
      SELECT method, split_a AS split, split_a <> split_b AS leaked FROM pm
      UNION ALL
      SELECT method, split_b, TRUE FROM pm WHERE split_a <> split_b
    ),
    pstats AS (
      SELECT method, split,
             CAST(count(*) FILTER (WHERE NOT leaked) AS BIGINT)
               AS n_pairs_internal,
             CAST(count(*) FILTER (WHERE leaked) AS BIGINT)
               AS n_pairs_leaked
      FROM touch GROUP BY 1, 2
    )
    SELECT n.method, n.split, n.n_docs,
           COALESCE(p.n_pairs_internal, 0) AS n_pairs_internal,
           COALESCE(p.n_pairs_leaked, 0) AS n_pairs_leaked
    FROM ndocs n
    LEFT JOIN pstats p ON p.method = n.method AND p.split = n.split
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-granularity corpus splitting next to its naive baseline:
    6 rows (2 methods x 3 splits) with doc counts and near-dup-pair
    accounting — `by_cluster` must show n_pairs_leaked = 0 on every row
    (split is a function of the cluster id), `by_doc` shows the
    contamination naive hashing ships to eval."""
    from purldb_spark.plans.fixture_cache import dup_clusters, near_dup_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id")
    cc = dup_clusters(spark, sf_dir)
    assign = docs.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    by_cluster = assign.select(
        F.lit("by_cluster").alias("method"),
        "doc_id",
        F.expr(
            _SPLIT_CASE.format(pct=_PCT_SPARK.format(id="cluster_id"))
        ).alias("split"),
    )
    by_doc = assign.select(
        F.lit("by_doc").alias("method"),
        "doc_id",
        F.expr(_SPLIT_CASE.format(pct=_PCT_SPARK.format(id="doc_id"))).alias(
            "split"
        ),
    )
    tall = by_cluster.unionByName(by_doc)
    ndocs = tall.groupBy("method", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    near = near_dup_pairs(spark, sf_dir)
    sa = tall.select(
        "method", F.col("doc_id").alias("doc_a"), F.col("split").alias(
            "split_a"
        )
    )
    sb = tall.select(
        "method", F.col("doc_id").alias("doc_b"), F.col("split").alias(
            "split_b"
        )
    )
    pm = near.join(sa, "doc_a").join(sb, ["doc_b", "method"])
    touch = pm.select(
        "method",
        F.col("split_a").alias("split"),
        (F.col("split_a") != F.col("split_b")).alias("leaked"),
    ).unionByName(
        pm.filter(F.col("split_a") != F.col("split_b")).select(
            "method",
            F.col("split_b").alias("split"),
            F.lit(True).alias("leaked"),
        )
    )
    pstats = touch.groupBy("method", "split").agg(
        F.coalesce(
            F.sum(F.when(~F.col("leaked"), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_pairs_internal"),
        F.coalesce(F.sum(F.when(F.col("leaked"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_pairs_leaked"),
    )
    return ndocs.join(F.broadcast(pstats), ["method", "split"], "left").select(
        "method",
        "split",
        "n_docs",
        F.coalesce(F.col("n_pairs_internal"), F.lit(0))
        .cast("long")
        .alias("n_pairs_internal"),
        F.coalesce(F.col("n_pairs_leaked"), F.lit(0))
        .cast("long")
        .alias("n_pairs_leaked"),
    )
