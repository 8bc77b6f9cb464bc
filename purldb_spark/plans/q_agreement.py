"""classifier_agreement_eval — the distillation-eval dashboard that
closes the trainer story (r14 verdict #5): score every document under
the THREE quality gates the engine ships —

  frozen     — the hashed-weight linear teacher
               (functions/text.py teacher_keep_spark, the gate of
               select_quality_classifier)
  perceptron — the trained 4-epoch batch-perceptron student
               (plans/q_classifier.py artifact, final-epoch weights)
  nb         — the trained multinomial-NB student (operators/nb.py), on
               the e6 FIXED-POINT log-prob table (nb_argmax_e6_expr)

— and report per-pair agreement/disagreement counts plus a
deterministic example disagreement (min doc_id; -1 when the gates agree
everywhere). Both students were distilled FROM the frozen teacher's own
keep/drop decisions, so frozen~student agreement IS the distillation
quality, and perceptron~nb disagreement localizes where the two model
families generalize differently from the same labels.

Every decision is integer-exact across engines: the frozen gate and the
perceptron dot are integer folds by construction; the NB argmax uses
the e6-quantized log-prob table (integer SUMS commute — no
float-accumulation-order drift), with the quantization itself part of
the deployed artifact (the classic fixed-point-inference table). The
oracle re-derives all three gates from raw documents: the teacher's
fold, the full perceptron epoch-CTE replay (shared with
classifier_train via q_classifier.epoch_ctes), and the NB counting +
fixed-point table chain.

Scale: training costs what the two trainer queries cost (one counting
agg; one agg per epoch over the materialized feature table); the eval
itself is ONE corpus pass — all three gates are map-only literal folds
fused into the same scan, and the pairwise counts ride one global
aggregate (a handful of longs to the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import bucket_expr_sql, teacher_keep_spark
from purldb_spark.operators.nb import (
    loglik_e6_sql,
    nb_argmax_e6_expr,
    prior_e6_sql,
)
from purldb_spark.operators.perceptron import score_expr
from purldb_spark.plans.q_classifier import (
    _B,
    _EPOCHS,
    epoch_ctes,
    perceptron_history,
)
from purldb_spark.plans.q_nb import trained_nb_stats
from purldb_spark.plans.registry import query


def _pair_select(name: str, a: str, b: str) -> str:
    return f"""
SELECT '{name}' AS gate_pair,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN {a} <> {b} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_disagree,
       CAST(sum(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) * 1000 // count(*)
            AS BIGINT) AS agree_e3,
       CAST(COALESCE(min(CASE WHEN {a} <> {b} THEN doc_id END), -1)
            AS BIGINT) AS min_disagree_doc_id
FROM preds"""


def _oracle() -> str:
    parts, final_w = epoch_ctes()
    # perceptron dot under the FINAL epoch's weights (x8 dim is the bias)
    dot = " + ".join(
        f"({final_w[i]}) * f.{d}"
        for i, d in enumerate([f"x{i}" for i in range(_B)] + ["xb"])
    )
    nb_parts = f"""
nbtoks AS MATERIALIZED (
  SELECT f2.doc_id, CASE WHEN f2.y = 1 THEN 1 ELSE 0 END AS label,
         {bucket_expr_sql("w", _B)} AS bucket
  FROM (SELECT doc_id, y, unnest(string_split(text, ' ')) AS w
        FROM documents JOIN feats USING (doc_id)) f2
),
cnt AS (SELECT label, bucket, count(*) AS token_cnt FROM nbtoks GROUP BY 1, 2),
ct AS (SELECT label, count(*) AS class_tokens FROM nbtoks GROUP BY 1),
ll AS (
  SELECT g.label, g.bucket,
         {loglik_e6_sql("COALESCE(cnt.token_cnt, 0)",
                        "COALESCE(ct.class_tokens, 0)", _B)} AS l_e6
  FROM (SELECT c.range AS label, b.range AS bucket
        FROM range(2) c, range({_B}) b) g
  LEFT JOIN cnt ON cnt.label = g.label AND cnt.bucket = g.bucket
  LEFT JOIN ct ON ct.label = g.label
),
pd AS (
  SELECT {prior_e6_sql(
      "(SELECT count(*) FROM feats WHERE y = 1)")}
       - {prior_e6_sql(
      "(SELECT count(*) FROM feats WHERE y <> 1)")} AS prior_diff
),
nbscore AS (
  SELECT t.doc_id, sum(l1.l_e6 - l0.l_e6) AS sdiff
  FROM nbtoks t
  JOIN ll l1 ON l1.label = 1 AND l1.bucket = t.bucket
  JOIN ll l0 ON l0.label = 0 AND l0.bucket = t.bucket
  GROUP BY t.doc_id
),
preds AS MATERIALIZED (
  SELECT f.doc_id,
         CASE WHEN f.y = 1 THEN 1 ELSE 0 END AS kf,
         CASE WHEN ({dot}) > 0 THEN 1 ELSE 0 END AS kp,
         CASE WHEN pd.prior_diff + COALESCE(n.sdiff, 0) > 0
              THEN 1 ELSE 0 END AS kn
  FROM feats f
  CROSS JOIN e{_EPOCHS}
  CROSS JOIN pd
  LEFT JOIN nbscore n ON n.doc_id = f.doc_id
)"""
    body = " UNION ALL ".join(
        [
            _pair_select("frozen~perceptron", "kf", "kp"),
            _pair_select("frozen~nb", "kf", "kn"),
            _pair_select("perceptron~nb", "kp", "kn"),
        ]
    )
    return "WITH " + ",".join(parts) + "," + nb_parts + "\n" + body


@query("classifier_agreement_eval", oracle=_oracle())
def classifier_agreement_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train both students on the teacher's decisions, then score the
    corpus under all three gates in ONE pass and report the pairwise
    agreement table (module docstring)."""
    docs = load(spark, sf_dir, "documents")
    y = F.expr(f"case when {teacher_keep_spark()} then 1 else -1 end").cast("long")

    # both students come from the session model caches — the
    # trained_centroids production split (training pipeline fits once,
    # queries consume); the oracle re-derives both trainings from raw
    # documents, so the caches can never mask a bug
    w = [int(v) for v in perceptron_history(spark, sf_dir)[-1]["w"]]
    stats = trained_nb_stats(spark, sf_dir, _B)

    preds = docs.select(
        "doc_id",
        F.when(y == 1, 1).otherwise(0).alias("kf"),
        F.expr(
            f"case when ({score_expr('text', w, _B)}) > 0 then 1 else 0 end"
        ).alias("kp"),
        F.expr(nb_argmax_e6_expr("text", stats, _B)).alias("kn"),
    )

    def agree(x: str, z: str) -> F.Column:
        return F.sum((F.col(x) == F.col(z)).cast("long"))

    def dis_min(x: str, z: str) -> F.Column:
        return F.coalesce(
            F.min(F.when(F.col(x) != F.col(z), F.col("doc_id"))), F.lit(-1)
        ).cast("long")

    agg = preds.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        agree("kf", "kp").alias("a_fp"),
        dis_min("kf", "kp").alias("d_fp"),
        agree("kf", "kn").alias("a_fn"),
        dis_min("kf", "kn").alias("d_fn"),
        agree("kp", "kn").alias("a_pn"),
        dis_min("kp", "kn").alias("d_pn"),
    )
    return agg.selectExpr(
        "stack(3,"
        " 'frozen~perceptron', n, a_fp, d_fp,"
        " 'frozen~nb', n, a_fn, d_fn,"
        " 'perceptron~nb', n, a_pn, d_pn"
        ") as (gate_pair, n_docs, n_agree, min_disagree_doc_id)"
    ).select(
        "gate_pair",
        "n_docs",
        "n_agree",
        (F.col("n_docs") - F.col("n_agree")).cast("long").alias("n_disagree"),
        F.expr("n_agree * 1000 div n_docs").cast("long").alias("agree_e3"),
        "min_disagree_doc_id",
    )
