"""compaction_retention_plan — the band-index TTL decision as data.

streaming/compact_stream.py applies a retention policy by one semi-join:
keep a caller-supplied doc set, rewrite the index as a fresh generation,
and the index size becomes O(retention window) instead of O(history).
What the caller still has to DECIDE is the window itself — and the cost
of that decision is exactly the index bytes each candidate window would
retain. This dashboard reports it for the corpus at hand, one row per
candidate policy (keep the newest 25 / 50 / 75 / 100 % of documents —
doc_id is the test corpus's ingest order; a production ledger keys the
same cut on ingest time, where it is partition pruning, a metadata
operation):

  * retained_docs / retained_frac_e6 — the window's population;
  * band_rows / band_bytes — the MinHash band table after compaction
    (4 bands per doc, operators/dedup.minhash_bands; 80 bytes per row:
    8 doc_id + 8 band_idx + 64 band-key hex chars);
  * posting_rows / posting_bytes — the shingle posting table (distinct
    (doc_id, 3-word shingle); 8 bytes id + the shingle's own length) —
    the verify-join side, always the dominant bill.

Cross-engine exactness: counts/sums are BIGINTs over identical strings
(both engines split text on single spaces — the functions/text.py
shingle convention); the only division is floor(retained * 1e6 / N) whose
operands are < 2^53, so IEEE double floor agrees. The corpus count and
min doc_id enter as driver scalars (the memoized corpus_count pattern);
the DuckDB oracle derives the same cutoffs relationally.

Scale shape: one projection-pruned pass over documents (doc_id only) +
one shingle pass, each exploded against a 4-element literal policy array
and partially aggregated map-side into 4 groups — linear, no index
materialized, no candidate pairs touched. At 100 TB this is the cheap
dry-run an operator prints BEFORE calling compact_band_index with the
window the dashboard justifies.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import SHINGLES_SQL
from purldb_spark.operators.dedup import word_shingles
from purldb_spark.plans.registry import query

_POLICIES = [
    ("keep_025pct", 25),
    ("keep_050pct", 50),
    ("keep_075pct", 75),
    ("keep_100pct", 100),
]
_N_BANDS = 4
_BAND_ROW_BYTES = 80  # 8 (doc_id) + 8 (band_idx) + 64 (band_key hex)

_ORACLE = f"""
WITH params AS (SELECT min(doc_id) AS mn, count(*) AS n FROM documents),
pol AS (
  SELECT * FROM (VALUES {", ".join(f"('{p}', {k})" for p, k in _POLICIES)})
       AS p(policy, keep_pct)
),
cut AS (
  SELECT policy, CAST(keep_pct AS BIGINT) AS keep_pct,
         CAST(mn + floor(n * (100 - keep_pct) / 100.0) AS BIGINT)
           AS cutoff_id,
         n
  FROM pol, params
),
shingles AS ({SHINGLES_SQL}),
docs_r AS (
  SELECT c.policy, count(*) AS retained_docs
  FROM cut c JOIN documents d ON d.doc_id >= c.cutoff_id
  GROUP BY c.policy
),
posts_r AS (
  SELECT c.policy, count(*) AS posting_rows,
         sum(length(s.sh) + 8) AS posting_bytes
  FROM cut c JOIN shingles s ON s.doc_id >= c.cutoff_id
  GROUP BY c.policy
)
SELECT c.policy, c.keep_pct, c.cutoff_id,
       CAST(COALESCE(d.retained_docs, 0) AS BIGINT) AS retained_docs,
       CAST(COALESCE(d.retained_docs, 0) * {_N_BANDS} AS BIGINT)
         AS band_rows,
       CAST(COALESCE(d.retained_docs, 0) * {_N_BANDS * _BAND_ROW_BYTES}
         AS BIGINT) AS band_bytes,
       CAST(COALESCE(p.posting_rows, 0) AS BIGINT) AS posting_rows,
       CAST(COALESCE(p.posting_bytes, 0) AS BIGINT) AS posting_bytes,
       CAST(floor(COALESCE(d.retained_docs, 0) * 1000000.0 / c.n)
         AS BIGINT) AS retained_frac_e6
FROM cut c
LEFT JOIN docs_r d USING (policy)
LEFT JOIN posts_r p USING (policy)
"""


@query("compaction_retention_plan", oracle=_ORACLE)
def compaction_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention dashboard (module docstring): explode each row
    against the literal policy array, keep the policies whose window
    contains it, aggregate per policy — one linear pass per table."""
    docs = load(spark, sf_dir, "documents")
    mn, n = docs.agg(F.min("doc_id"), F.count("*")).first()
    cut = [
        (p, k, int(mn) + math.floor(n * (100 - k) / 100.0))
        for p, k in _POLICIES
    ]
    pol_arr = F.array(
        *[
            F.struct(
                F.lit(p).alias("policy"), F.lit(c).alias("cutoff_id")
            )
            for p, _, c in cut
        ]
    )
    docs_r = (
        docs.select("doc_id", F.explode(pol_arr).alias("p"))
        .filter(F.col("doc_id") >= F.col("p.cutoff_id"))
        .groupBy(F.col("p.policy").alias("policy"))
        .agg(F.count("*").alias("retained_docs"))
    )
    posts_r = (
        word_shingles(docs, "doc_id", "text", n=3)
        .select(
            "doc_id",
            (F.length("sh") + F.lit(8)).cast("long").alias("row_bytes"),
            F.explode(pol_arr).alias("p"),
        )
        .filter(F.col("doc_id") >= F.col("p.cutoff_id"))
        .groupBy(F.col("p.policy").alias("policy"))
        .agg(
            F.count("*").alias("posting_rows"),
            F.sum("row_bytes").alias("posting_bytes"),
        )
    )
    base = spark.createDataFrame(
        cut, "policy string, keep_pct long, cutoff_id long"
    )
    rd = F.coalesce(F.col("retained_docs"), F.lit(0)).cast("long")
    return (
        base.join(docs_r, "policy", "left")
        .join(posts_r, "policy", "left")
        .select(
            "policy",
            "keep_pct",
            "cutoff_id",
            rd.alias("retained_docs"),
            (rd * _N_BANDS).cast("long").alias("band_rows"),
            (rd * (_N_BANDS * _BAND_ROW_BYTES))
            .cast("long")
            .alias("band_bytes"),
            F.coalesce(F.col("posting_rows"), F.lit(0))
            .cast("long")
            .alias("posting_rows"),
            F.coalesce(F.col("posting_bytes"), F.lit(0))
            .cast("long")
            .alias("posting_bytes"),
            F.floor(rd * F.lit(1000000.0) / F.lit(int(n)))
            .cast("long")
            .alias("retained_frac_e6"),
        )
    )
