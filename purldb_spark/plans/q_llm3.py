"""Training-data text ops, batch 3: the end-to-end dedup DECISION —
near-dup clusters (connected components over exact-jaccard pairs, as
dedup_cluster_cc) composed with the quality scorer to a per-document
keep/drop verdict: each cluster keeps its highest-quality member
(tie -> smallest doc_id), singletons keep themselves. This is the
pipeline a production corpus dedup actually ships: pair generation →
transitive closure → canonical selection, all set-oriented.

The oracle recomputes the WHOLE composition relationally (WITH
RECURSIVE closure + a window argmax over the identical quality
formula), so the driver check covers the composition, not just the
pieces.

Scale: pairs and closure are the dedup_cluster_cc shapes (inverted
index + log-diameter pointer jumping); the canonical selection adds
one quality-scored join and one per-cluster window — shuffle keys are
cluster ids, high cardinality by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import (
    quality_features,
    quality_sql,
    SHINGLES_SQL,
)
from purldb_spark.plans.registry import query


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE shingles AS ({SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM near
      UNION SELECT doc_b, doc_a FROM near
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM edges e JOIN reach ON reach.node = e.a
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    quality AS (
      SELECT doc_id, {quality_sql("text")} FROM documents
    ),
    member AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             q.quality_score
      FROM documents d
      LEFT JOIN clusters c ON c.doc_id = d.doc_id
      JOIN quality q ON q.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, cluster_id, quality_score,
             row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY quality_score DESC, doc_id ASC
             ) AS rn
      FROM member
    )
    SELECT doc_id, cluster_id, round(quality_score, 6) AS quality_score,
           (rn = 1) AS keep
    FROM ranked
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup decision: exact-jaccard >= 0.5 pairs -> connected
    components -> keep the highest-quality doc per cluster (tie ->
    smallest doc_id); docs outside any cluster form singleton clusters
    and keep themselves."""
    from purldb_spark.plans.fixture_cache import dup_clusters

    docs = load(spark, sf_dir, "documents")
    # the CC label table is the shared session fixture (materialized state
    # in production — the pairs feeding it are appended per batch by
    # streaming/dedup_stream.py)
    clusters = dup_clusters(spark, sf_dir)
    quality = docs.select(
        "doc_id", quality_features("text")["quality_score"].alias("quality_score")
    )
    member = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        .join(quality, "doc_id")
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        member.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.round("quality_score", 6).alias("quality_score"),
            (F.col("rn") == 1).alias("keep"),
        )
    )
