"""dedup_cost_plan — what each dedup method would COST on this corpus.

The dedup family's scale story is the shape of its candidate join
(BENCH_scale findings 1/3: uncapped inverted indexes are sum(df^2),
banded methods are linear in true pairs) — but before launching a 100 TB
dedup run, an operator wants those costs as NUMBERS for the corpus at
hand, not as asymptotics. This dashboard reports, per method, the stored
index size and the candidate-join FAN-IN (sum over join keys of
C(group, 2) — the exact number of pair comparisons the verify stage
receives, i.e. the shuffle the method pays BEFORE any jaccard/hamming
gate):

  * exact            — md5(text) groups (fan-in = pairs sharing a hash)
  * minhash_4x2      — the shipped band index (4 bands x 2 rows,
                       fixture_cache.minhash_band_index)
  * simhash_120bit   — the 4 x 30-bit pigeonhole bands over the stored
                       wide fingerprints
  * ngram_uncapped   — the raw shingle inverted index (sum C(df, 2):
                       the labeled quadratic baseline's true cost)
  * ngram_capped_16  — the df <= 16 posting (what the capped twin pays,
                       plus how many posting rows the cap drops)

Everything is an exact BIGINT count off one groupBy per method — the
dashboards' cost is a handful of key-count aggregations, linear in index
size; no candidate pair is materialized. Oracles re-derive every index
relationally from raw documents (the shared shingle twin and the q_dedup
signature SQL), so the shared fixtures can never mask a counting bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.operators.simhash_wide import band_exprs, simhash_wide_sql
from purldb_spark.plans.fixture_cache import (
    doc_shingles,
    minhash_band_index,
    simhash_fingerprints,
)
from purldb_spark.plans.q_dedup import (
    _BANDS_SQL,
    _DF_CAP,
    _MINHASH_AGGS_SQL,
    _TOKENS_SQL,
)
from purldb_spark.plans.registry import query

def _key_cost_sql(name: str, keyed: str) -> str:
    """One method row: group ``keyed`` (vid, k) by key, report stored rows
    and pairwise fan-in."""
    return f"""
    SELECT '{name}' AS method,
           CAST(COALESCE(sum(n), 0) AS BIGINT) AS index_rows,
           CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT)
             AS candidate_fanin
    FROM (SELECT k, count(*) AS n FROM ({keyed}) GROUP BY k)
    """


_SIMHASH_BANDS_SQL = f"""
    SELECT doc_id,
           CAST(b AS BIGINT) || ':' ||
           CAST(CASE WHEN b < 2 THEN (sim_lo >> (b * 30)) & 1073741823
                     ELSE (sim_hi >> ((b - 2) * 30)) & 1073741823
                END AS VARCHAR) AS k
    FROM ({simhash_wide_sql("doc_id", _TOKENS_SQL)}) sim,
         unnest([0, 1, 2, 3]) AS t(b)
"""


@query(
    "dedup_cost_plan",
    oracle=f"""
    WITH shingles AS MATERIALIZED ({SHINGLES_SQL}),
    sig AS MATERIALIZED (
      SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingles GROUP BY doc_id
    ),
    bands AS ({_BANDS_SQL})
    {_key_cost_sql("exact", "SELECT doc_id, md5(text) AS k FROM documents")}
    UNION ALL
    {_key_cost_sql(
        "minhash_4x2",
        "SELECT doc_id, CAST(band_idx AS VARCHAR) || ':' || band_key AS k"
        " FROM bands",
    )}
    UNION ALL
    {_key_cost_sql("simhash_120bit", _SIMHASH_BANDS_SQL)}
    UNION ALL
    {_key_cost_sql("ngram_uncapped", "SELECT doc_id, sh AS k FROM shingles")}
    UNION ALL
    {_key_cost_sql(
        f"ngram_capped_{_DF_CAP}",
        "SELECT doc_id, sh AS k FROM shingles WHERE sh IN"
        f" (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {_DF_CAP})",
    )}
    """,
)
def dedup_cost_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-method dedup cost report (module docstring). Each method is one
    key-count groupBy over its stored index (the shared fixtures the real
    queries probe), collapsed to a single (index_rows, candidate_fanin)
    row; the five rows union into the report."""

    def key_cost(name: str, keyed: DataFrame) -> DataFrame:
        return (
            keyed.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(F.sum("n"), F.lit(0))
                .cast("long")
                .alias("index_rows"),
                F.coalesce(
                    F.sum(F.expr("n * (n - 1) div 2")), F.lit(0)
                )
                .cast("long")
                .alias("candidate_fanin"),
            )
            .select(
                F.lit(name).alias("method"), "index_rows", "candidate_fanin"
            )
        )

    docs = load(spark, sf_dir, "documents")
    sh = doc_shingles(spark, sf_dir)
    mh = minhash_band_index(spark, sf_dir)
    sim = simhash_fingerprints(spark, sf_dir)
    sim_bands = sim.select(
        "doc_id", F.explode(F.array(*band_exprs())).alias("band")
    ).select(
        F.concat(
            F.col("band.band_idx").cast("string"),
            F.lit(":"),
            F.col("band.band_key").cast("string"),
        ).alias("k")
    )
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    capped_sh = sh.join(
        df_counts.filter(F.col("df") <= _DF_CAP).select("sh"), "sh", "left_semi"
    )
    out = key_cost("exact", docs.select(F.md5("text").alias("k")))
    for name, keyed in [
        (
            "minhash_4x2",
            mh.select(
                F.concat(
                    F.col("band_idx").cast("string"),
                    F.lit(":"),
                    F.col("band_key"),
                ).alias("k")
            ),
        ),
        ("simhash_120bit", sim_bands),
        ("ngram_uncapped", sh.select(F.col("sh").alias("k"))),
        (f"ngram_capped_{_DF_CAP}", capped_sh.select(F.col("sh").alias("k"))),
    ]:
        out = out.unionByName(key_cost(name, keyed))
    return out
