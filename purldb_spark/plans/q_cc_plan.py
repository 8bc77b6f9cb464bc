"""cc_deferral_plan — the max_component flush-cadence decision as data.

streaming/cc_stream.py caps inline relabel work with ``max_component``:
edges that would relabel a component larger than the cap are deferred to
a side ledger and folded back in-band (``flush_in_band``) at a cadence
the operator chooses. What the operator has to DECIDE is the cap itself
— and the cost of each candidate cap is exactly what this dashboard
reports, one row per cap, over a deterministic replay of one stream
boundary on the corpus at hand:

  * prior state = connected components over the near-dup pairs whose
    endpoints are both in the epoch-0 slice (doc_id % 5 != 0 — the test
    corpus's stand-in for "already ingested"; production reads the
    materialized label snapshot, cc_stream.current_labels);
  * batch = the remaining near-dup pairs (>= one epoch-1 endpoint);
  * per cap: how many NOVEL batch edges (cc_stream.novel_pairs — at
    least one unlabeled endpoint or differing labels) stay inline vs
    defer (cc_stream.split_by_component_size — an endpoint's stored
    component exceeds the cap; unlabeled endpoints count as singletons),
    how many distinct stored components the deferred edges touch, and
    the largest component among them — deferred_edges x oldest-epoch
    age is the flush backlog the cadence must drain
    (cc_stream.deferred_stats reports the live equivalents).

Cross-engine exactness: counts/max over BIGINT ids and counts; the only
float op is the jaccard >= 0.5 near-pair gate both engines already agree
on in every dedup oracle. The DuckDB oracle recomputes prior labels with
WITH RECURSIVE (the dedup_cluster_cc closure pattern), so the comparison
checks the deferral decision against true transitive-closure state, not
against Spark's own labels.

Scale shape: the pair table and label snapshot are materialized state in
production (near_dup_pairs / dup_clusters fixtures here); the dashboard
itself is two equi-joins (labels onto batch endpoints, sizes onto
labels) + one explode against a 3-element literal cap array + one
partial aggregation into 3 groups — O(batch), no CC waves run for the
report (prior labels are read, batch CC is what the STREAM would do
next, not this query's job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.operators.dedup import connected_components
from purldb_spark.plans.fixture_cache import cached_fixture, near_dup_pairs
from purldb_spark.plans.registry import query

_CAPS = [1, 2, 4]

_ORACLE = f"""
WITH RECURSIVE shingles AS MATERIALIZED ({SHINGLES_SQL}),
sizes0 AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
allpairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
near AS MATERIALIZED (
  SELECT doc_a, doc_b FROM allpairs
  JOIN sizes0 sa ON sa.doc_id = doc_a
  JOIN sizes0 sb ON sb.doc_id = doc_b
  WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.5
),
prior_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM near WHERE doc_a % 5 != 0 AND doc_b % 5 != 0
),
batch_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM near WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM prior_pairs
  UNION SELECT doc_b, doc_a FROM prior_pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, reach.r FROM edges e JOIN reach ON reach.node = e.a
),
labels AS MATERIALIZED (SELECT node, min(r) AS label FROM reach GROUP BY node),
csize AS MATERIALIZED (SELECT label, count(*) AS n FROM labels GROUP BY label),
novel AS MATERIALIZED (
  SELECT p.doc_a, p.doc_b, la.label AS la, lb.label AS lb,
         greatest(COALESCE(na.n, 1), COALESCE(nb.n, 1)) AS comp_max,
         CASE WHEN p.doc_a % 5 = 0 AND p.doc_b % 5 = 0 THEN 2 ELSE 1 END
           AS edge_epoch
  FROM batch_pairs p
  LEFT JOIN labels la ON la.node = p.doc_a
  LEFT JOIN labels lb ON lb.node = p.doc_b
  LEFT JOIN csize na ON na.label = la.label
  LEFT JOIN csize nb ON nb.label = lb.label
  WHERE la.label IS NULL OR lb.label IS NULL OR la.label != lb.label
),
caps AS (SELECT * FROM (VALUES {", ".join(f"({c})" for c in _CAPS)}) AS t(cap)),
flagged AS MATERIALIZED (
  SELECT c.cap, n.*, (n.comp_max > c.cap) AS deferred FROM caps c, novel n
),
counts AS (
  SELECT cap,
         CAST(sum(CASE WHEN deferred THEN 1 ELSE 0 END) AS BIGINT)
           AS deferred_edges,
         CAST(sum(CASE WHEN deferred THEN 0 ELSE 1 END) AS BIGINT)
           AS inline_edges,
         CAST(COALESCE(max(CASE WHEN deferred THEN comp_max END), 0)
           AS BIGINT) AS max_deferred_component,
         CAST(COALESCE(min(CASE WHEN deferred THEN edge_epoch END), 0)
           AS BIGINT) AS oldest_deferred_epoch
  FROM flagged GROUP BY cap
),
touched AS (
  SELECT cap, CAST(count(DISTINCT lab) AS BIGINT) AS components_touched
  FROM (
    SELECT cap, la AS lab FROM flagged WHERE deferred AND la IS NOT NULL
    UNION ALL
    SELECT cap, lb FROM flagged WHERE deferred AND lb IS NOT NULL
  ) GROUP BY cap
)
SELECT CAST(c.cap AS BIGINT) AS cap,
       CAST(COALESCE(counts.deferred_edges, 0) AS BIGINT) AS deferred_edges,
       CAST(COALESCE(counts.inline_edges, 0) AS BIGINT) AS inline_edges,
       CAST(COALESCE(counts.max_deferred_component, 0) AS BIGINT)
         AS max_deferred_component,
       CAST(COALESCE(counts.oldest_deferred_epoch, 0) AS BIGINT)
         AS oldest_deferred_epoch,
       CAST(COALESCE(t.components_touched, 0) AS BIGINT)
         AS components_touched
FROM caps c
LEFT JOIN counts ON counts.cap = c.cap
LEFT JOIN touched t ON t.cap = c.cap
"""


def _prior_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC labels over the epoch-0 slice's internal near-dup pairs — the
    stand-in for the stream's materialized label snapshot, memoized like
    the state it models (the waves run once per session; the oracle
    recomputes the closure recursively, so the cache cannot mask a
    propagation bug)."""

    def build() -> DataFrame:
        prior = near_dup_pairs(spark, sf_dir).filter(
            (F.col("doc_a") % 5 != 0) & (F.col("doc_b") % 5 != 0)
        )
        return connected_components(prior, "doc_a", "doc_b").localCheckpoint(
            eager=True
        )

    return cached_fixture(spark, f"cc_plan_prior_labels:{sf_dir}", build)


@query("cc_deferral_plan", oracle=_ORACLE)
def cc_deferral_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deferral dashboard (module docstring): label/size both batch
    endpoints, keep novel edges, explode against the literal cap array,
    aggregate per cap — mirrors cc_stream.novel_pairs +
    split_by_component_size exactly (same greatest/coalesce singleton
    rule)."""
    labels = _prior_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("_n"))
    batch = near_dup_pairs(spark, sf_dir).filter(
        (F.col("doc_a") % 5 == 0) | (F.col("doc_b") % 5 == 0)
    )
    la = labels.select(F.col("node").alias("doc_a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("doc_b"), F.col("label").alias("lb"))
    novel = (
        batch.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .join(
            sizes.select(F.col("label").alias("la"), F.col("_n").alias("na")),
            "la",
            "left",
        )
        .join(
            sizes.select(F.col("label").alias("lb"), F.col("_n").alias("nb")),
            "lb",
            "left",
        )
        .filter(
            F.col("la").isNull()
            | F.col("lb").isNull()
            | (F.col("la") != F.col("lb"))
        )
        .select(
            "la",
            "lb",
            F.greatest(
                F.coalesce(F.col("na"), F.lit(1)),
                F.coalesce(F.col("nb"), F.lit(1)),
            ).alias("comp_max"),
            # the batch carries two waves of novel docs: edges with ONE
            # epoch-1 endpoint arrived first (wave 1), both-epoch-1
            # edges second — min over deferred edges is the backlog AGE
            # the flush cadence must bound (deferred_stats.oldest_epoch
            # is the live equivalent)
            F.when(
                (F.col("doc_a") % 5 == 0) & (F.col("doc_b") % 5 == 0),
                F.lit(2),
            )
            .otherwise(F.lit(1))
            .alias("edge_epoch"),
        )
    )
    flagged = novel.select(
        "la",
        "lb",
        "comp_max",
        "edge_epoch",
        F.explode(
            F.array(*[F.lit(c) for c in _CAPS])
        ).alias("cap"),
    ).withColumn("deferred", F.col("comp_max") > F.col("cap"))
    counts = flagged.groupBy("cap").agg(
        F.sum(F.when(F.col("deferred"), 1).otherwise(0))
        .cast("long")
        .alias("deferred_edges"),
        F.sum(F.when(F.col("deferred"), 0).otherwise(1))
        .cast("long")
        .alias("inline_edges"),
        F.coalesce(
            F.max(F.when(F.col("deferred"), F.col("comp_max"))), F.lit(0)
        )
        .cast("long")
        .alias("max_deferred_component"),
        F.coalesce(
            F.min(F.when(F.col("deferred"), F.col("edge_epoch"))), F.lit(0)
        )
        .cast("long")
        .alias("oldest_deferred_epoch"),
    )
    touched = (
        flagged.filter("deferred")
        .select("cap", F.col("la").alias("lab"))
        .unionByName(
            flagged.filter("deferred").select("cap", F.col("lb").alias("lab"))
        )
        .filter(F.col("lab").isNotNull())
        .groupBy("cap")
        .agg(F.countDistinct("lab").cast("long").alias("components_touched"))
    )
    base = spark.createDataFrame([(c,) for c in _CAPS], "cap long")
    return (
        base.join(counts.withColumn("cap", F.col("cap").cast("long")), "cap", "left")
        .join(touched.withColumn("cap", F.col("cap").cast("long")), "cap", "left")
        .select(
            "cap",
            F.coalesce("deferred_edges", F.lit(0)).cast("long").alias(
                "deferred_edges"
            ),
            F.coalesce("inline_edges", F.lit(0)).cast("long").alias(
                "inline_edges"
            ),
            F.coalesce("max_deferred_component", F.lit(0)).cast("long").alias(
                "max_deferred_component"
            ),
            F.coalesce("oldest_deferred_epoch", F.lit(0)).cast("long").alias(
                "oldest_deferred_epoch"
            ),
            F.coalesce("components_touched", F.lit(0)).cast("long").alias(
                "components_touched"
            ),
        )
    )
