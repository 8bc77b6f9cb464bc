"""The full snippet-matching pipeline — SURVEY §2.3 J8 + §2.7 F6/F7 + §2.4
A5 composed end-to-end, the way matchcode's snippet matcher runs it
(matchcode/models.py:480-657):

  1. index: winnowing fingerprints with positions per document (the
     SnippetIndex build, models.py:425-478)
  2. query side: documents doc_id % 10 == 0 (their own fingerprints)
  3. J8: inverted-index equi-join on fingerprint
  4. F7: each matched fingerprint at `position` covers
     [position, position + WINNOW_GRAM - 1]
  5. F6: merge overlapping/near (gap ≤ 16) spans per (query, index) pair
  6. A5/W6 outputs: per pair — matched distinct fingerprints, jaccard
     against the index doc's fingerprint count, merged span count, covered
     positions

Every stage is a join/window/groupBy — no per-resource loop; the oracle
replays the identical algebra in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import WINNOW_GRAM, WINNOW_SQL, winnow_fingerprints
from purldb_spark.plans.registry import query

MERGE_GAP = 16  # matchcode/match.py:313-317


def _index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, fp): winnowed snippet fingerprints, each at the first
    position it was kept."""
    return (
        winnow_fingerprints(load(spark, sf_dir, "documents"))
        .groupBy("doc_id", "fp")
        .agg(F.min("pos").alias("pos"))
    )


_INDEX_SQL = f"""
  SELECT doc_id, fp, min(pos) AS pos FROM ({WINNOW_SQL}) GROUP BY doc_id, fp
"""


@query(
    "snippet_match_pipeline",
    oracle=f"""
    WITH idx AS ({_INDEX_SQL}),
    q AS (SELECT doc_id AS q_doc_id, fp, pos AS q_pos FROM idx WHERE doc_id % 10 = 0),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM idx GROUP BY doc_id),
    hits AS (  -- J8 + F7: inverted-index join, spans [pos, pos+4]
      SELECT q.q_doc_id, i.doc_id AS index_doc_id, i.fp,
             i.pos AS span_start, i.pos + {WINNOW_GRAM - 1} AS span_end
      FROM q JOIN idx i ON q.fp = i.fp
      WHERE q.q_doc_id <> i.doc_id
    ),
    ordered AS (  -- F6: interval merge per (query, index) pair
      SELECT *,
             max(span_end) OVER (PARTITION BY q_doc_id, index_doc_id
                                 ORDER BY span_start, span_end
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM hits
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_max IS NULL
                          OR span_start > prev_max + {MERGE_GAP} THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    spanned AS (
      SELECT *, sum(is_new) OVER (PARTITION BY q_doc_id, index_doc_id
                                  ORDER BY span_start, span_end) AS span_id
      FROM flagged
    ),
    merged AS (
      SELECT q_doc_id, index_doc_id, span_id,
             min(span_start) AS m_start, max(span_end) AS m_end
      FROM spanned GROUP BY q_doc_id, index_doc_id, span_id
    ),
    pair_fp AS (
      SELECT q_doc_id, index_doc_id, count(DISTINCT fp) AS matched_fp
      FROM hits GROUP BY q_doc_id, index_doc_id
    )
    SELECT p.q_doc_id, p.index_doc_id, p.matched_fp,
           CAST(p.matched_fp AS DOUBLE)
             / (sq.n_fp + si.n_fp - p.matched_fp) AS jaccard,
           m.n_spans,
           m.covered
    FROM pair_fp p
    JOIN sizes sq ON sq.doc_id = p.q_doc_id
    JOIN sizes si ON si.doc_id = p.index_doc_id
    JOIN (SELECT q_doc_id, index_doc_id,
                 count(*) AS n_spans,
                 CAST(SUM(m_end - m_start + 1) AS BIGINT) AS covered
          FROM merged GROUP BY q_doc_id, index_doc_id) m
      ON m.q_doc_id = p.q_doc_id AND m.index_doc_id = p.index_doc_id
    WHERE CAST(p.matched_fp AS DOUBLE) / (sq.n_fp + si.n_fp - p.matched_fp) >= 0.2
    """,
)
def snippet_match_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+F7+F6+A5 composed: snippet inverted-index match with span merge
    and jaccard ranking (matchcode/models.py:480-657, match.py:290-348).
    Keeps pairs with fingerprint-set jaccard ≥ 0.2."""
    idx = _index(spark, sf_dir)
    q = (
        _index(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("q_doc_id"), "fp", F.col("pos").alias("q_pos"))
    )
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))

    hits = (
        q.join(idx, "fp")
        .filter(F.col("q_doc_id") != F.col("doc_id"))
        .select(
            "q_doc_id",
            F.col("doc_id").alias("index_doc_id"),
            "fp",
            F.col("pos").alias("span_start"),
            (F.col("pos") + WINNOW_GRAM - 1).alias("span_end"),
        )
    )

    # F6 interval merge (same algebra as operators/windows.merge_intervals,
    # inlined for the integer-position variant)
    w_order = Window.partitionBy("q_doc_id", "index_doc_id").orderBy(
        "span_start", "span_end"
    )
    prev_max = F.max("span_end").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    spanned = (
        hits.withColumn(
            "is_new",
            F.when(
                prev_max.isNull() | (F.col("span_start") > prev_max + MERGE_GAP), 1
            ).otherwise(0),
        )
        .withColumn("span_id", F.sum("is_new").over(w_order))
    )
    merged = spanned.groupBy("q_doc_id", "index_doc_id", "span_id").agg(
        F.min("span_start").alias("m_start"), F.max("span_end").alias("m_end")
    )
    span_stats = merged.groupBy("q_doc_id", "index_doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("m_end") - F.col("m_start") + 1).cast("long").alias("covered"),
    )
    pair_fp = hits.groupBy("q_doc_id", "index_doc_id").agg(
        F.countDistinct("fp").alias("matched_fp")
    )

    sq = sizes.withColumnRenamed("doc_id", "q_doc_id").withColumnRenamed("n_fp", "nq")
    si = sizes.withColumnRenamed("doc_id", "index_doc_id").withColumnRenamed(
        "n_fp", "ni"
    )
    return (
        pair_fp.join(sq, "q_doc_id")
        .join(si, "index_doc_id")
        .join(span_stats, ["q_doc_id", "index_doc_id"])
        .withColumn(
            "jaccard",
            F.col("matched_fp").cast("double")
            / (F.col("nq") + F.col("ni") - F.col("matched_fp")),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select(
            "q_doc_id", "index_doc_id", "matched_fp", "jaccard", "n_spans", "covered"
        )
    )
