"""dedup_plan_choice — cost-based dispatch between the THREE exact/
near-exact jaccard plans, as data (the decision-as-data pattern of
lsh_band_plan / dedup_cost_plan / cc_deferral_plan).

The repo ships three candidate-generation plans for the same jaccard
self-join and a measured regime study (r14 ledger, PLANS.md): the
all-pairs counting plan (dedup_ngram_jaccard) wins on BENIGN corpora,
the prefix-filtered SSJoin (dedup_ngram_prefix) is the only exact
survivor of a BOILERPLATE FLOOD, and the df-capped twin
(dedup_ngram_jaccard_capped) is the bounded-but-lossy fallback. Plan
choice was manual; this dashboard computes it per corpus SLICE from the
decision statistics alone — no candidate pair is ever materialized:

  counting_fanin  = sum over shingles of C(df, 2) — the exact number of
                    pair rows the counting plan's groupBy receives.
  prefix_fanin    = the same sum over PREFIX postings only (rarest-first
                    prefixes of length n - ceil(t*n) + 1 at t = 0.8, the
                    prefix theorem of plans/q_prefix.py) — an upper
                    bound on candidate pairs entering the exact verify.
  capped_fanin /  = what the df <= 16 cap pays, and how many posting
  capped_dropped    rows (recall!) it throws away to get there.

The CHOICE uses row-touches, not raw fan-in — the regime study's point
is exactly that fan-in alone flatters the prefix plan (its candidates
are fewer but it re-reads the posting table several times):

  counting_cost = postings + counting_fanin
      (one self-join pass over the posting table, then the pair rows)
  prefix_cost   = 4 * postings + 2 * avg_doc_size * prefix_fanin
      (df agg + rank window + prefix self-join + verify rejoin are each
       a pass over postings; every surviving candidate pair re-reads
       both documents' postings in the exact verify)

  chosen_plan = 'counting' if counting_cost <= prefix_cost else 'prefix'

Both costs are integer-exact in both engines (avg_doc_size = postings
div n_docs), so the argmin itself is oracle-checked, not just the
inputs. The capped plan never wins the argmin — it is not exact; its
columns are context for the operator who decides recall is negotiable.

At 100 TB the statistics cost two key-count aggregations and one rank
window over the posting table — linear, shuffle-bounded by (slice,
shingle) / (slice, doc) keys — against a wrong-plan downside that is
quadratic (k boilerplate docs make k^2 counting pair rows; the flood
test in tests/test_plan_choice.py pins the dispatcher to 'prefix' there
and to 'counting' on the benign slice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.plans.fixture_cache import doc_shingles
from purldb_spark.plans.q_dedup import _DF_CAP
from purldb_spark.plans.registry import query

_T_NUM, _T_DEN = 4, 5  # t = 0.8: prefix length n - ceil(t*n) + 1


def dedup_plan_stats(sliced: DataFrame, df_cap: int = _DF_CAP) -> DataFrame:
    """Per-slice decision statistics + plan choice over a (slice, doc_id,
    sh) posting table (module docstring). Pure DataFrame composition —
    two groupBys on (slice, sh) / (slice, doc_id), one rank window, and
    per-slice folds; candidate pairs are counted arithmetically
    (sum C(df, 2)), never joined out."""
    from pyspark.sql import Window

    df_tbl = sliced.groupBy("slice", "sh").agg(
        F.count(F.lit(1)).alias("df")
    )
    per_sh = df_tbl.groupBy("slice").agg(
        F.sum("df").cast("long").alias("postings"),
        F.max("df").cast("long").alias("max_df"),
        F.sum(F.expr("df * (df - 1) div 2")).cast("long").alias(
            "counting_fanin"
        ),
        F.sum(
            F.when(F.col("df") <= df_cap, F.expr("df * (df - 1) div 2"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("capped_fanin"),
        F.sum(
            F.when(F.col("df") > df_cap, F.col("df")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("capped_dropped_postings"),
    )
    sizes = sliced.groupBy("slice", "doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_docs = sizes.groupBy("slice").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    prefix = (
        sliced.join(df_tbl, ["slice", "sh"])
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("slice", "doc_id").orderBy("df", "sh")
            ),
        )
        .join(sizes, ["slice", "doc_id"])
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({_T_NUM}*n + {_T_NUM}) div {_T_DEN}")
            + 1
        )
        .groupBy("slice", "sh")
        .agg(F.count(F.lit(1)).alias("pdf"))
        .groupBy("slice")
        .agg(
            F.sum("pdf").cast("long").alias("prefix_postings"),
            F.sum(F.expr("pdf * (pdf - 1) div 2")).cast("long").alias(
                "prefix_fanin"
            ),
        )
    )
    stats = per_sh.join(n_docs, "slice").join(prefix, "slice")
    return (
        stats.withColumn(
            "counting_cost",
            (F.col("postings") + F.col("counting_fanin")).cast("long"),
        )
        .withColumn(
            "prefix_cost",
            (
                4 * F.col("postings")
                + 2
                * F.expr("postings div n_docs")
                * F.col("prefix_fanin")
            ).cast("long"),
        )
        .withColumn(
            "chosen_plan",
            F.when(
                F.col("counting_cost") <= F.col("prefix_cost"),
                F.lit("counting"),
            ).otherwise(F.lit("prefix")),
        )
        .select(
            "slice",
            "n_docs",
            "postings",
            "max_df",
            "counting_fanin",
            "counting_cost",
            "prefix_postings",
            "prefix_fanin",
            "prefix_cost",
            "capped_fanin",
            "capped_dropped_postings",
            "chosen_plan",
        )
    )


_STATS_CTES = f"""shingles AS MATERIALIZED ({SHINGLES_SQL}),
sliced AS MATERIALIZED (
  SELECT d.lang AS slice, s.doc_id, s.sh
  FROM shingles s JOIN documents d ON d.doc_id = s.doc_id
),
df AS MATERIALIZED (
  SELECT slice, sh, count(*) AS df FROM sliced GROUP BY slice, sh
),
per_sh AS (
  SELECT slice,
         CAST(sum(df) AS BIGINT) AS postings,
         CAST(max(df) AS BIGINT) AS max_df,
         CAST(sum(df * (df - 1) // 2) AS BIGINT) AS counting_fanin,
         CAST(sum(CASE WHEN df <= {_DF_CAP}
                       THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
           AS capped_fanin,
         CAST(sum(CASE WHEN df > {_DF_CAP} THEN df ELSE 0 END) AS BIGINT)
           AS capped_dropped_postings
  FROM df GROUP BY slice
),
sizes AS MATERIALIZED (
  SELECT slice, doc_id, count(*) AS n FROM sliced GROUP BY slice, doc_id
),
nd AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_docs FROM sizes GROUP BY slice),
ranked AS MATERIALIZED (
  SELECT s.slice, s.doc_id, s.sh,
         row_number() OVER (
           PARTITION BY s.slice, s.doc_id ORDER BY d.df, s.sh) AS rn
  FROM sliced s JOIN df d ON d.slice = s.slice AND d.sh = s.sh
),
pfx AS (
  SELECT r.slice, r.sh, count(*) AS pdf
  FROM ranked r
  JOIN sizes z ON z.slice = r.slice AND z.doc_id = r.doc_id
  WHERE r.rn <= z.n - ({_T_NUM} * z.n + {_T_NUM}) // {_T_DEN} + 1
  GROUP BY r.slice, r.sh
),
pf AS (
  SELECT slice,
         CAST(sum(pdf) AS BIGINT) AS prefix_postings,
         CAST(sum(pdf * (pdf - 1) // 2) AS BIGINT) AS prefix_fanin
  FROM pfx GROUP BY slice
),
costed AS (
  SELECT p.slice, n.n_docs, p.postings, p.max_df, p.counting_fanin,
         CAST(p.postings + p.counting_fanin AS BIGINT) AS counting_cost,
         f.prefix_postings, f.prefix_fanin,
         CAST(4 * p.postings
              + 2 * (p.postings // n.n_docs) * f.prefix_fanin AS BIGINT)
           AS prefix_cost,
         p.capped_fanin, p.capped_dropped_postings
  FROM per_sh p JOIN nd n ON n.slice = p.slice JOIN pf f ON f.slice = p.slice
)"""

_ORACLE = f"""
WITH {_STATS_CTES}
SELECT slice, n_docs, postings, max_df, counting_fanin, counting_cost,
       prefix_postings, prefix_fanin, prefix_cost,
       capped_fanin, capped_dropped_postings,
       CASE WHEN counting_cost <= prefix_cost
            THEN 'counting' ELSE 'prefix' END AS chosen_plan
FROM costed
"""


@query("dedup_plan_choice", oracle=_ORACLE)
def dedup_plan_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatcher dashboard over the documents corpus, sliced by
    language (the natural per-shard planning grain for a multilingual
    100 TB corpus): one row per lang with every decision statistic and
    the argmin plan (module docstring). The oracle re-derives the
    statistics AND the choice relationally from raw documents."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("slice")
    )
    sliced = doc_shingles(spark, sf_dir).join(docs, "doc_id")
    return dedup_plan_stats(sliced)


def _counting_pairs(sliced: DataFrame) -> DataFrame:
    """Slice-aware all-pairs counting plan: posting self-join on
    (slice, sh), intersection count, exact jaccard at t = 0.8."""
    inter = (
        sliced.alias("a")
        .join(
            sliced.alias("b"),
            (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.slice").alias("slice"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return _verify(sliced, inter)


def _prefix_pairs(sliced: DataFrame) -> DataFrame:
    """Slice-aware prefix-filtered SSJoin (q_prefix's plan with the
    slice riding every key): rarest-first prefixes, candidate self-join
    on prefix tokens only, exact verify rejoin."""
    from pyspark.sql import Window

    df_tbl = sliced.groupBy("slice", "sh").agg(F.count(F.lit(1)).alias("df"))
    sizes = sliced.groupBy("slice", "doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    pfx = (
        sliced.join(df_tbl, ["slice", "sh"])
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("slice", "doc_id").orderBy("df", "sh")
            ),
        )
        .join(sizes, ["slice", "doc_id"])
        .filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({_T_NUM}*n + {_T_NUM}) div {_T_DEN}")
            + 1
        )
        .select("slice", "doc_id", "sh")
    )
    cands = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.slice").alias("slice"),
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates()
    )
    inter = (
        cands.join(
            sliced.select(
                "slice", F.col("doc_id").alias("id_a"), "sh"
            ),
            ["slice", "id_a"],
        )
        .join(
            sliced.select(
                "slice", F.col("doc_id").alias("id_b"), "sh"
            ),
            ["slice", "id_b", "sh"],
        )
        .groupBy("slice", "id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return _verify(sliced, inter)


def _verify(sliced: DataFrame, inter: DataFrame) -> DataFrame:
    """Shared exact-jaccard gate: join sizes, threshold t = 0.8."""
    sizes = sliced.groupBy("slice", "doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    na = sizes.select(
        "slice", F.col("doc_id").alias("id_a"), F.col("n").alias("na")
    )
    nb = sizes.select(
        "slice", F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
    )
    return (
        inter.join(na, ["slice", "id_a"])
        .join(nb, ["slice", "id_b"])
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("na") + F.col("nb") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("slice", "id_a", "id_b", "intersection", "jaccard")
    )


_DISPATCH_ORACLE = f"""
WITH {_STATS_CTES},
choice AS (
  SELECT slice, CASE WHEN postings + counting_fanin <=
                          4 * postings + 2 * (postings // n_docs)
                              * prefix_fanin
                     THEN 'counting' ELSE 'prefix' END AS plan
  FROM costed
),
inter AS (
  SELECT a.slice, a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS intersection
  FROM sliced a
  JOIN sliced b ON b.slice = a.slice AND b.sh = a.sh
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT i.slice, i.id_a, i.id_b, i.intersection,
       CAST(i.intersection AS DOUBLE)
         / (za.n + zb.n - i.intersection) AS jaccard,
       c.plan
FROM inter i
JOIN sizes za ON za.slice = i.slice AND za.doc_id = i.id_a
JOIN sizes zb ON zb.slice = i.slice AND zb.doc_id = i.id_b
JOIN choice c ON c.slice = i.slice
WHERE CAST(i.intersection AS DOUBLE) / (za.n + zb.n - i.intersection) >= 0.8
"""


@query("dedup_dispatch_run", oracle=_DISPATCH_ORACLE)
def dedup_dispatch_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatcher EXECUTING its choice — the adaptive follow-up to
    dedup_plan_choice: compute the per-slice decision statistics, pull
    the O(slices) choice table to the driver (a few rows — the
    data-dependent plan-construction step AQE cannot do across queries),
    then run the counting plan on the slices it wins and the prefix
    SSJoin on the slices it wins, union the per-slice EXACT jaccard
    pairs, and label each row with the plan that produced it. Both
    plans are exact (the prefix theorem), so the oracle verifies the
    pairs with ONE formulation regardless of which plan ran — the
    dispatcher can change its mind as the corpus shifts without
    changing the answer, only the cost; the choice label itself is
    re-derived relationally. At 100 TB the choice table is per-shard
    planning metadata; a boilerplate-flooded slice automatically gets
    the plan that survives it."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("slice")
    )
    # r15: materialize the sliced posting table once — it feeds the stats
    # collect AND both plan runners (each a multi-pass consumer), which
    # previously re-ran the shingle/doc join per subtree
    sliced = (
        doc_shingles(spark, sf_dir)
        .join(docs, "doc_id")
        .localCheckpoint(eager=True)
    )
    choices = {
        r.slice: r.chosen_plan for r in dedup_plan_stats(sliced).collect()
    }
    parts = []
    for plan_name, runner in (
        ("counting", _counting_pairs),
        ("prefix", _prefix_pairs),
    ):
        slices = sorted(s for s, c in choices.items() if c == plan_name)
        if not slices:
            continue
        sub = sliced.filter(F.col("slice").isin(slices))
        parts.append(runner(sub).withColumn("plan", F.lit(plan_name)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
