"""Multinomial Naive Bayes trainer — the FIFTH in-engine trainer family
(after kmeans, PQ, BPE, perceptron): a generative text classifier whose
training is PURE COUNTING, making it the most Spark-native trainer of
the five — one shuffle of thin (class, bucket) rows with map-side
combine, no epochs, no driver iteration at all.

Model: multinomial NB over hashed token buckets (the same fastText
hashing trick as operators/perceptron.py — McCallum & Nigam 1998 for
the event model). The trained artifact is the sufficient-statistics
table

    (class, bucket) -> token_cnt,  class -> (class_docs, class_tokens)

— all INTEGERS, so Spark and DuckDB agree bit-for-bit with no
fixed-point grid (the perceptron's property, reached with even less
machinery). Scoring applies Laplace-smoothed log-likelihoods

    score(c | d) = log N_c + sum_b x_b * log((T_cb + 1) / (T_c + B))

as a map-only gate (nb_score_expr): floats appear ONLY at apply time,
exactly like every other trained gate here (kmeans centroids, PQ
codebooks) — never in the verified artifact.

At 100 TB: tokenize is one map pass; the count aggregation moves
(class, bucket) pairs — at B buckets and C classes at most C*B rows
survive the map-side combine per partition, so the shuffle is bounded
by C*B*partitions regardless of corpus size; class totals ride the
same pass. The artifact is C*(B+2) integers — driver traffic the size
of a centroid set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.functions.text import bucket_expr_spark


def nb_train(
    spark: SparkSession,
    docs: DataFrame,
    label_col: str,
    text_col: str,
    n_buckets: int,
    n_classes: int = 2,
) -> DataFrame:
    """Sufficient statistics of a multinomial NB over hashed buckets:
    one row per (label, bucket) on a DENSE class x bucket grid (absent
    combinations report zero — the output shape is deterministic,
    n_classes * n_buckets rows). Columns: label, bucket, token_cnt,
    class_docs, class_tokens — every count a BIGINT.

    One tokenize pass (the perceptron features() shape): explode ->
    hash each token once -> thin (label, bucket) counts with map-side
    combine. ``label_col`` must hold ints in [0, n_classes)."""
    b = bucket_expr_spark("w", n_buckets)
    toks = docs.select(
        F.col(label_col).cast("long").alias("label"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).select("label", F.expr(b).cast("long").alias("bucket"))
    cnt = toks.groupBy("label", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("token_cnt")
    )
    class_docs = docs.groupBy(
        F.col(label_col).cast("long").alias("label")
    ).agg(F.count(F.lit(1)).cast("long").alias("class_docs"))
    class_tokens = toks.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("class_tokens")
    )
    # dense grid via range, not a driver-side list: at realistic widths
    # (B = 4096 fastText buckets, or 2^20 in a large deployment) the
    # C x B grid must be generated on executors, and a single range
    # decode avoids the cross-join a range x range product would plan
    # (BroadcastNestedLoopJoin — fenced registry-wide)
    grid = spark.range(n_classes * n_buckets).select(
        (F.col("id") % n_classes).cast("long").alias("label"),
        F.expr(f"id div {n_classes}").cast("long").alias("bucket"),
    )
    return (
        grid.join(cnt, ["label", "bucket"], "left")
        .join(class_docs, "label", "left")
        .join(class_tokens, "label", "left")
        .select(
            "label",
            "bucket",
            F.coalesce("token_cnt", F.lit(0)).cast("long").alias("token_cnt"),
            F.coalesce("class_docs", F.lit(0)).cast("long").alias("class_docs"),
            F.coalesce("class_tokens", F.lit(0))
            .cast("long")
            .alias("class_tokens"),
        )
    )


def nb_score_expr(
    text_col: str, stats: list[dict], n_buckets: int, label: int
) -> str:
    """Spark SQL expression for the Laplace-smoothed log-score of one
    class under the trained statistics (``stats`` = nb_train rows as
    dicts) — the map-only trained gate, literal doubles riding into
    codegen like every frozen/trained model here. Compare two classes'
    expressions (or nb_argmax_expr) to classify."""
    rows = {r["bucket"]: r for r in stats if r["label"] == label}
    any_row = next(r for r in stats if r["label"] == label)
    n_c = max(int(any_row["class_docs"]), 1)
    t_c = int(any_row["class_tokens"])
    logliks = [
        math.log(
            (int(rows[b_]["token_cnt"]) + 1 if b_ in rows else 1)
            / (t_c + n_buckets)
        )
        for b_ in range(n_buckets)
    ]
    b = bucket_expr_spark("w", n_buckets)
    arr = ", ".join(f"{v!r}D" for v in logliks)
    return (
        f"aggregate(split({text_col}, ' '), cast({math.log(n_c)!r} as double),"
        f" (acc, w) -> acc + element_at(array({arr}), cast({b} as int) + 1))"
    )


def loglik_e6(token_cnt: int, class_tokens: int, n_buckets: int) -> int:
    """Laplace-smoothed log-likelihood quantized to 1e-6 — the
    fixed-point log-prob table (the classic integer-inference trick):
    floor(ln((T_cb + 1) / (T_c + B)) * 1e6 + 0.5). floor(x + 0.5) rather
    than round() because Python rounds half-to-even while SQL engines
    round half-away — floor(+0.5) is the one rule every engine states
    identically. With the table integer, per-doc scores are integer SUMS
    (commutative — no float-accumulation-order drift between engines),
    so the argmax decision is cross-engine exact; the only float op is
    one ln per (class, bucket) cell, identical here because Python's
    math.log and DuckDB's ln both call the host libm on the same
    machine."""
    return math.floor(
        math.log((int(token_cnt) + 1) / (int(class_tokens) + n_buckets))
        * 1e6
        + 0.5
    )


def prior_e6(class_docs: int) -> int:
    """ln(max(N_c, 1)) on the same e6 fixed-point grid as loglik_e6."""
    return math.floor(math.log(max(int(class_docs), 1)) * 1e6 + 0.5)


def loglik_e6_sql(token_cnt: str, class_tokens: str, n_buckets: int) -> str:
    """DuckDB twin of loglik_e6 over column expressions."""
    return (
        f"CAST(floor(ln(({token_cnt} + 1.0) / ({class_tokens} + {n_buckets}))"
        f" * 1e6 + 0.5) AS BIGINT)"
    )


def prior_e6_sql(class_docs: str) -> str:
    """DuckDB twin of prior_e6 over a column expression."""
    return (
        f"CAST(floor(ln(greatest({class_docs}, 1)) * 1e6 + 0.5) AS BIGINT)"
    )


def nb_argmax_e6_expr(
    text_col: str, stats: list[dict], n_buckets: int
) -> str:
    """Predicted class (0/1 binary) under the e6 FIXED-POINT log-prob
    table — the cross-engine-exact twin of nb_argmax_expr: one integer
    fold over the token array of the per-bucket loglik DIFFERENCE
    (L1b - L0b), seeded with the prior difference; class 1 wins on
    score > 0 (the same strictly-greater tie-break as nb_argmax_expr)."""
    by = {(int(r["label"]), int(r["bucket"])): r for r in stats}
    diffs = [
        loglik_e6(
            by[(1, b_)]["token_cnt"], by[(1, b_)]["class_tokens"], n_buckets
        )
        - loglik_e6(
            by[(0, b_)]["token_cnt"], by[(0, b_)]["class_tokens"], n_buckets
        )
        for b_ in range(n_buckets)
    ]
    prior_diff = prior_e6(by[(1, 0)]["class_docs"]) - prior_e6(
        by[(0, 0)]["class_docs"]
    )
    b = bucket_expr_spark("w", n_buckets)
    arr = ", ".join(f"{int(v)}L" for v in diffs)
    return (
        f"case when aggregate(split({text_col}, ' '), {int(prior_diff)}L,"
        f" (acc, w) -> acc + element_at(array({arr}), cast({b} as int) + 1))"
        f" > 0 then 1 else 0 end"
    )


def nb_argmax_expr(text_col: str, stats: list[dict], n_buckets: int) -> str:
    """Predicted class (0/1 binary form): 1 iff class 1's log-score is
    strictly greater — deterministic tie-break to the lower label."""
    s0 = nb_score_expr(text_col, stats, n_buckets, 0)
    s1 = nb_score_expr(text_col, stats, n_buckets, 1)
    return f"case when ({s1}) > ({s0}) then 1 else 0 end"
