"""Batch perceptron trainer — the fourth in-engine trainer family
(after kmeans, PQ, BPE): a linear text classifier TRAINED distributedly,
closing the gap the frozen hashed-weight model documents
(functions/text.py: "no trained classifier ships in the sandbox" — with
integer-exact updates one can be trained IN the engine and verified
against a DuckDB replay).

Model: bag-of-hashed-tokens (fastText's hashing trick, Joulin et al.
2016) over ``n_buckets`` integer count features + bias; classic batch
perceptron updates (Rosenblatt; the batch form is Minsky/Papert's
summed-misclassified gradient):

    epoch t:  mis_i = y_i * (w_t . x_i) <= 0
              w_{t+1} = w_t + sum_{mis} y_i * x_i

Everything is INTEGER arithmetic — counts, dot products, updates — so
Spark and DuckDB agree bit-for-bit with no fixed-point grid needed (the
trick kmeans requires for its IEEE means). Per epoch the cluster does
ONE aggregation and ships n_buckets+2 integers to the driver (the
lloyd_step contract); weights ride back into the next epoch's plan as
literals (broadcast-as-literals, same as every trainer here). At 100 TB
each epoch is a map-side-combined sum over the corpus — linear, no
shuffle beyond the final combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.functions.text import bucket_expr_spark


def features(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, x0..x{n-1}, xb) integer feature frame: per-bucket token
    counts + the constant bias column.

    ONE tokenize pass regardless of bucket count (r13 advice): the
    original shape emitted one ``size(filter(split(text), ...))`` column
    per bucket — every token split and md5-hashed B times per row, fine
    at the demo B=8 but O(B x tokens)/row, intractable at a realistic
    student size (the frozen fastText teacher uses 4096 buckets). Now:
    explode -> hash each token ONCE -> count by (id, bucket) on thin
    (id, int) rows with map-side combine -> fold to a per-doc count map
    -> left-join back so no doc drops -> O(1) element_at per bucket
    column. Work is O(tokens) + O(B)/row; the two shuffles move only
    id+int rows, never text, and Spark reuses their shuffle files across
    perceptron_fit's epochs (same DataFrame lineage -> skipped stages),
    so epochs pay the final aggregate only. A doc whose text tokenizes
    to nothing (null text) gets zero counts."""
    b = bucket_expr_spark("w", n_buckets)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    counts = (
        toks.select(F.col(id_col), F.expr(b).cast("int").alias("bkt"))
        .groupBy(id_col, "bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    maps = counts.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("bkt", "c"))).alias("m")
    )
    cols = [
        F.coalesce(F.expr(f"element_at(m, {i})"), F.lit(0))
        .cast("long")
        .alias(f"x{i}")
        for i in range(n_buckets)
    ]
    return (
        docs.select(F.col(id_col))
        .join(maps, id_col, "left")
        .select(F.col(id_col), *cols, F.lit(1).cast("long").alias("xb"))
    )


def perceptron_fit(
    feats: DataFrame,
    label_col: str,
    n_buckets: int,
    epochs: int,
) -> list[dict]:
    """Run ``epochs`` batch-perceptron epochs over a feature frame with a
    ``label_col`` in {-1, +1}; returns one dict per epoch:
    {"epoch", "w" (post-update weights, n_buckets+1 ints), "n_mis",
    "w_sum" (cumulative sum of post-update weights through this epoch —
    the integer numerator of the AVERAGED perceptron, Freund & Schapire
    1999: on non-separable data raw weights cycle, the running average
    converges; divide by epoch to apply, or use the sum directly since
    sign(w_sum . x) == sign(mean . x))}."""
    dims = [f"x{i}" for i in range(n_buckets)] + ["xb"]
    w = [0] * (n_buckets + 1)
    w_sum = [0] * (n_buckets + 1)
    out: list[dict] = []
    for t in range(epochs):
        dot = " + ".join(f"{w[i]}L * {d}" for i, d in enumerate(dims))
        mis = F.expr(f"{label_col} * ({dot}) <= 0")
        aggs = [
            F.sum(
                F.when(mis, F.col(label_col) * F.col(d)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"g{i}")
            for i, d in enumerate(dims)
        ] + [F.sum(F.when(mis, 1).otherwise(0)).cast("long").alias("n_mis")]
        row = feats.agg(*aggs).first()
        w = [w[i] + int(row[f"g{i}"]) for i in range(len(dims))]
        w_sum = [w_sum[i] + w[i] for i in range(len(dims))]
        out.append(
            {
                "epoch": t + 1,
                "w": list(w),
                "n_mis": int(row["n_mis"]),
                "w_sum": list(w_sum),
            }
        )
    return out


def score_expr(text_col: str, weights: list[int], n_buckets: int) -> str:
    """Spark SQL expression scoring one document under TRAINED weights
    (w0..w{n-1} + bias, classifier_train's artifact): the map-only gate
    a curation pipeline fuses into its corpus scan — the trained twin of
    the frozen teacher (functions/text.py teacher_score_spark). One
    aggregate over the token array; weight lookup is a literal
    element_at, so the model rides into codegen exactly like the frozen
    one."""
    b = bucket_expr_spark("w", n_buckets)
    warr = ", ".join(f"{int(w)}L" for w in weights[:n_buckets])
    bias = int(weights[n_buckets])
    return (
        f"aggregate(split({text_col}, ' '), 0L,"
        f" (acc, w) -> acc + element_at(array({warr}), cast({b} as int) + 1))"
        f" + {bias}L"
    )
