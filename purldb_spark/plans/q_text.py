"""Training-data-pipeline queries, text-analysis family (split from the
former q_llm.py so one edit no longer invalidates the whole LLM-ops
inventory's verification hashes at once).

Coverage:
  language-ID         -> text_langid   (stopword-ratio argmax heuristic)
  quality scoring     -> text_quality  (C4/Gopher-rule feature shape)
  token counting      -> text_tokens   (whitespace + BPE-ish regex)
  doc fingerprinting  -> text_winnow_fingerprint (winnowing rolling min)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import (
    n_tokens_bpe,
    n_tokens_ws,
    predicted_lang,
    predicted_lang_sql,
    quality_features,
    quality_sql,
    span_scrub,
    span_scrub_sql,
    TOKEN_REGEX,
    winnow_fingerprints,
    WINNOW_SQL,
    word_grams,
    word_grams_sql,
)
from purldb_spark.plans.registry import query


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang, {predicted_lang_sql("text")} AS pred_lang
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword ratios (≥2%
    floor, deterministic first-wins ties). A lexicon heuristic, not a model —
    the Spark shape (pure column expressions over a literal lexicon) is what
    a real fastText-style scorer would replace via pandas_udf."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", predicted_lang("text").alias("pred_lang"))


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id, {quality_sql("text")}
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword features + linear score
    (the C4/Gopher-rule shape). Pure JVM expressions; bit-exact vs oracle."""
    d = load(spark, sf_dir, "documents")
    feats = quality_features("text")
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@query(
    "text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens_bpe
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokenizer."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens_ws("text").alias("n_tokens_ws"),
        n_tokens_bpe("text").alias("n_tokens_bpe"),
    )


@query(
    "text_winnow_fingerprint",
    oracle=f"""
    SELECT doc_id, count(DISTINCT fp) AS n_fingerprints
    FROM ({WINNOW_SQL}) GROUP BY doc_id
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by winnowing (the matchcode snippet-index
    construction, matchcode/models.py:425-657 consumes exactly such
    fingerprints): hash every 5-token gram, slide a window of 4, keep the
    window minimum — the classic winnowing guarantee (one fingerprint per
    window, shared grams -> shared fingerprints). Windowed min per doc, no
    UDF."""
    winnowed = winnow_fingerprints(load(spark, sf_dir, "documents"))
    return winnowed.groupBy("doc_id").agg(
        F.countDistinct("fp").alias("n_fingerprints")
    )


_BN = 3   # boilerplate gram width (tokens)
_BP = 0.99  # DF-percentile: grams in the top 1% of document frequency


@query(
    "text_boilerplate_scrub",
    oracle=span_scrub_sql(
        f"""
    WITH grams AS ({word_grams_sql(_BN)}),
    df AS (
      SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY g
    ),
    thr AS (SELECT CEIL(quantile_cont(d, {_BP})) AS t FROM df),
    boiler AS (
      SELECT g FROM df, thr WHERE d >= thr.t
    )
    SELECT gr.doc_id, gr.i0 FROM grams gr JOIN boiler b ON gr.g = b.g
    """,
        _BN,
    ),
)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal, the C4/CCNet cleanup step: token
    {_BN}-grams in the top 1% of document frequency are corpus boilerplate
    (headers, footers, license banners in real data); every token position
    covered by such a gram is scrubbed and the survivors re-joined in
    order. The threshold is a DF PERCENTILE, not an absolute count, so the
    policy is scale-free — an absolute cutoff tuned at 500 docs scrubbed
    99.9% of a 10x corpus in testing.

    Scale shape: gram DF is one groupBy (map-side combined); the
    boilerplate set is the top percentile and SMALL by construction, so it
    broadcasts; cover-marking and re-assembly are the shared
    functions/text.py span_scrub — all equi-joins, linear in corpus size
    at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    grams = word_grams(docs, _BN)
    df_t = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("d"))
    # the percentile is ONE scalar: materialize it driver-side (same
    # precedent as the k-means centroids) — joining a 1-row aggregate
    # back in compiles to a BroadcastNestedLoopJoin, which the
    # plan-shape fence rightly forbids.  The threshold is CEILed to an
    # integer on both engines: DF counts are integral, so d >= t and
    # d >= ceil(t) select the same gram set, and the integer comparison
    # is immune to the 1-ulp interpolation differences between Spark's
    # percentile() and DuckDB's quantile_cont()
    import math

    thr_val = math.ceil(
        float(
            df_t.agg(F.expr(f"percentile(d, {_BP})").alias("t")).collect()[0]["t"]
        )
    )
    boiler = df_t.filter(F.col("d") >= F.lit(thr_val)).select("g")
    return span_scrub(docs, grams.join(F.broadcast(boiler), "g"), _BN)


# ---------------------------------------------------------------------------
# text_chunk_overlap
# ---------------------------------------------------------------------------

_CHUNK_W = 64   # tokens per chunk
_CHUNK_S = 48   # stride (25% overlap)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s.s / {_CHUNK_S} AS BIGINT) AS chunk_idx,
             CAST(s.s AS BIGINT) AS start_tok,
             w[s.s + 1 : s.s + {_CHUNK_W}] AS cw
      FROM toks, LATERAL (
        SELECT unnest(range(0, len(w), {_CHUNK_S})) AS s
      ) s
    )
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len(cw) AS BIGINT) AS n_tokens,
           md5(array_to_string(cw, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: split every document into
    {_CHUNK_W}-token chunks on a {_CHUNK_S}-token stride (25% overlap) —
    the upstream step pack_greedy's docstring defers to ("chunking
    oversized documents is the tokenizer's job"), and the unit of
    retrieval/embedding pipelines. Each chunk carries a content hash so
    chunk-level exact dedup composes directly (dedup_exact on chunk_hash).

    Scale shape: pure map — per document, the chunk starts are a
    sequence() the size of n_tokens/stride and each chunk is a slice of
    the already-split token array; no shuffle, no join, output rows =
    sum(ceil(n_tokens/stride)). The md5 is the same cross-engine hash
    convention as everywhere else."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0L, cast(size(w) as bigint) - 1, {_CHUNK_S}),"
                f" s -> struct(cast(s / {_CHUNK_S} as bigint) as chunk_idx,"
                " s as start_tok,"
                f" slice(w, cast(s as int) + 1, {_CHUNK_W}) as cw))"
            )
        ).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_idx"),
        F.col("c.start_tok"),
        F.size("c.cw").cast("long").alias("n_tokens"),
        F.md5(F.array_join("c.cw", " ")).alias("chunk_hash"),
    )
