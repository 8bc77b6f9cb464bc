"""dedup_ngram_prefix — EXACT set-similarity self-join with prefix
filtering (Chaudhuri et al. SSJoin, ICDE'06; Bayardo et al. AllPairs,
WWW'07) at t = 0.8, the high-similarity near-dup threshold the technique
targets: the third point on the candidate-generation cost curve, between
the all-pairs inverted index (dedup_ngram_jaccard — every shared shingle
makes a candidate) and the df-capped heuristic (dedup_ngram_jaccard_capped
— bounded but can miss pairs).

Prefix theorem (exactness, no false negatives): order all shingles by a
GLOBAL total order — here (document frequency asc, shingle asc), rarest
first, the order that minimizes prefix collisions. For jaccard(A, B) >=
t, |A∩B| >= t·|A∪B| >= ceil(t·|A|). Let w1 be the FIRST element of A∩B
in the global order; every element of A before w1 is in A\\B, and
|A\\B| <= |A| - ceil(t·|A|), so w1 sits within the first
|A| - ceil(t·|A|) + 1 elements of A — its PREFIX (at t = 0.8:
n - ceil(4n/5) + 1 ~ n/5, computed integer-exactly in both engines as
n - (4n + 4) div 5 + 1). Symmetrically w1 is in B's prefix. Hence every
qualifying pair shares a token lying in BOTH prefixes, and indexing ONLY
prefix tokens loses nothing; exact jaccard over the full shingle sets
then verifies each candidate.

The 100 TB regime argument, measured honestly (r14 ledger): on a BENIGN
corpus (few hot shingles — the salted scale-probe slice) the classic
pair-counting plan is already cheap (sum(df²) pair rows through one
groupBy) and prefix filtering's candidate-rejoin verify costs more than
it saves. The regime that needs it is the BOILERPLATE FLOOD — a shingle
shared by k documents contributes k² pair rows to the counting plan
(k = 10^6 boilerplate docs -> 10^12 rows, a dead stage), while
rarest-first prefixes exclude hot shingles from almost every prefix, so
candidate volume stays near-linear AND the result is still EXACT — the
df-capped twin survives the flood only by sacrificing recall
(tests/test_prefix_join.py::test_flood pins the candidate collapse).
All joins are equi-joins on the shingle; the additions over the exact
query are one df aggregation and one per-doc rank window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.plans.fixture_cache import doc_shingles
from purldb_spark.plans.registry import query

_ORACLE = f"""
WITH shingles AS MATERIALIZED ({SHINGLES_SQL}),
df AS MATERIALIZED (SELECT sh, count(*) AS df FROM shingles GROUP BY sh),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
ranked AS MATERIALIZED (
  SELECT s.doc_id, s.sh,
         row_number() OVER (
           PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
  FROM shingles s JOIN df d ON d.sh = s.sh
),
prefix AS MATERIALIZED (
  SELECT r.doc_id, r.sh FROM ranked r
  JOIN sizes z ON z.doc_id = r.doc_id
  WHERE r.rn <= z.n - (4 * z.n + 4) // 5 + 1
),
cands AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b ON b.sh = a.sh AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS intersection
  FROM cands c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, intersection,
       CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) >= 0.8
"""


@query("dedup_ngram_prefix", oracle=_ORACLE)
def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact jaccard self-join at t = 0.8 (module
    docstring). Output is IDENTICAL to the all-pairs exact query
    filtered at the same threshold — the prefix theorem guarantees no
    false negatives and the exact verify removes false positives —
    pinned by tests/test_prefix_join.py; the oracle replays the prefix
    algorithm itself, so both the theorem's implementation and its
    arithmetic are engine-checked."""
    from pyspark.sql import Window

    sh = doc_shingles(spark, sf_dir)
    df_tbl = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        sh.join(df_tbl, "sh")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= F.col("n") - F.expr("(4*n + 4) div 5") + 1)
        .select("doc_id", "sh")
    )
    cands = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates()
    )
    inter = (
        cands.join(
            sh.select(F.col("doc_id").alias("id_a"), "sh"), "id_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "sh"),
            ["id_b", "sh"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("na") + F.col("nb") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "intersection", "jaccard")
    )
