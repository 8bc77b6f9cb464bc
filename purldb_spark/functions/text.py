"""Token-level text features shared by the training-data queries:
language-ID heuristic, quality scoring, token counting, hashed-token
buckets and the frozen teacher score, positioned word n-grams, shingles,
winnowing fingerprints and the covered-span scrub.

Each Spark builder sits beside its DuckDB twin. A twin is hand-written
SQL over the raw ``documents`` view, never generated from the Spark code,
so an oracle that embeds it checks the builder instead of restating it:

  Spark                               DuckDB twin
  predicted_lang                      predicted_lang_sql
  quality_features                    quality_sql
  bucket_expr_spark                   bucket_expr_sql
  teacher_score_spark / _keep_spark   teacher_score_sql / _keep_sql
  word_grams                          word_grams_sql
  operators/dedup.py word_shingles    SHINGLES_SQL
  winnow_fingerprints                 WINNOW_SQL
  span_scrub                          span_scrub_sql

Leaf rule: this module imports no purldb_spark module, and its builders
take DataFrames (callers keep their own ``load``). A query's verification
hash covers every purldb_spark module its builder reaches
(tools/query_hashes.py), so a leaf keeps the fixture cache and the plan
modules out of the hash closure of every query that only needs a text
feature, and an edit here restales only the queries that use one.

All expressions are engine-portable (plain string/array functions, no UDF):
ratios are int/int double divisions, the scores are fixed linear
combinations of identical doubles or exact integer sums, so results
compare bit-exact with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny stopword lexicons for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit"],
}

# BPE-ish tokenizer: letter runs, digit runs, or single non-space symbols
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# winnowing (the matchcode snippet index): md5 of every WINNOW_GRAM-token
# gram, one fingerprint kept per WINNOW_WINDOW consecutive grams
WINNOW_GRAM = 5
WINNOW_WINDOW = 4

# the frozen teacher: token -> one of 4096 hashed buckets -> an integer
# weight in [-1000, 1000]
TEACHER_BUCKETS = 4096
_TEACHER_SPREAD = 2001


def _spark_rx(rx: str) -> str:
    """Spark SQL string literals process backslash escapes (DuckDB's don't);
    double them so the engine-side regex text matches DuckDB's."""
    return rx.replace("\\", "\\\\")


def n_tokens_ws(text: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.col(text), " ")).cast("long")


def n_tokens_bpe(text: str = "text") -> Column:
    """Regex (BPE-ish) token count — JVM-side regexp_extract_all."""
    return F.size(
        F.expr(f"regexp_extract_all({text}, '{_spark_rx(TOKEN_REGEX)}', 0)")
    ).cast("long")


def stopwords_spark(lang: str) -> str:
    """The `lang` stopword lexicon as a Spark array literal."""
    return "array(" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"


def stopwords_sql(lang: str) -> str:
    """DuckDB twin of stopwords_spark: the lexicon as a list literal."""
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def stopword_hits(lang: str, text: str = "text") -> Column:
    """Number of whitespace tokens that are stopwords of `lang`."""
    arr = stopwords_spark(lang)
    return F.size(
        F.expr(f"filter(split({text}, ' '), t -> array_contains({arr}, t))")
    ).cast("long")


def predicted_lang(text: str = "text") -> Column:
    """Pick the language whose stopword ratio is highest (≥2% of tokens),
    else 'und'. Deterministic argmax with fixed evaluation order."""
    total = n_tokens_ws(text).cast("double")
    best = F.lit("und")
    best_ratio = F.lit(0.02)
    # fixed iteration order => deterministic tie behavior (first wins)
    for lang in sorted(STOPWORDS):
        ratio = stopword_hits(lang, text).cast("double") / total
        is_better = ratio > best_ratio
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_ratio = F.when(is_better, ratio).otherwise(best_ratio)
    return best


def predicted_lang_sql(text: str = "text") -> str:
    """DuckDB rendering of the same argmax cascade."""
    total = f"CAST(len(string_split({text}, ' ')) AS DOUBLE)"

    def hits(lang: str) -> str:
        return (
            f"CAST(len(list_filter(string_split({text}, ' '),"
            f" t -> list_contains({stopwords_sql(lang)}, t))) AS DOUBLE)"
        )

    best, best_ratio = "'und'", "0.02"
    for lang in sorted(STOPWORDS):
        r = f"({hits(lang)} / {total})"
        best = f"(CASE WHEN {r} > {best_ratio} THEN '{lang}' ELSE {best} END)"
        best_ratio = f"(CASE WHEN {r} > {best_ratio} THEN {r} ELSE {best_ratio} END)"
    return best


def quality_features(text: str = "text") -> dict[str, Column]:
    """Length/punct/stopword/word-length features + a linear quality score
    in [0,1]-ish. Same formula rendered for DuckDB in quality_sql()."""
    n_chars = F.length(F.col(text)).cast("long")
    n_ws = n_tokens_ws(text)
    n_punct = F.size(
        F.expr(f"regexp_extract_all({text}, '[^A-Za-z0-9\\\\s]', 0)")
    ).cast("long")
    stop_ratio = stopword_hits("en", text).cast("double") / n_ws.cast("double")
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    mean_word_len = (n_chars - n_ws + 1).cast("double") / n_ws.cast("double")
    score = (
        F.lit(0.4) * F.least(n_ws.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * F.least(stop_ratio * 10.0, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0)))
    )
    return {
        "n_chars": n_chars,
        "n_words": n_ws,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality_score": score,
    }


def quality_sql(text: str = "text") -> str:
    """SELECT-list fragment with identical names/semantics for DuckDB."""
    en = stopwords_sql("en")
    n_chars = f"CAST(length({text}) AS BIGINT)"
    n_ws = f"CAST(len(string_split({text}, ' ')) AS BIGINT)"
    n_punct = f"CAST(len(regexp_extract_all({text}, '[^A-Za-z0-9\\s]')) AS BIGINT)"
    stop = (
        f"CAST(len(list_filter(string_split({text}, ' '),"
        f" t -> list_contains({en}, t))) AS BIGINT)"
    )
    stop_ratio = f"(CAST({stop} AS DOUBLE) / CAST({n_ws} AS DOUBLE))"
    punct_ratio = f"(CAST({n_punct} AS DOUBLE) / CAST({n_chars} AS DOUBLE))"
    mean_wl = f"(CAST({n_chars} - {n_ws} + 1 AS DOUBLE) / CAST({n_ws} AS DOUBLE))"
    score = (
        f"(0.4 * least(CAST({n_ws} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.3 * least({stop_ratio} * 10.0, 1.0)"
        f" + 0.3 * (1.0 - least({punct_ratio} * 5.0, 1.0)))"
    )
    return (
        f"{n_chars} AS n_chars, {n_ws} AS n_words, {punct_ratio} AS punct_ratio,"
        f" {stop_ratio} AS stop_ratio, {mean_wl} AS mean_word_len,"
        f" {score} AS quality_score"
    )


# ------------------------------------------- hashed tokens, frozen teacher --


def bucket_expr_spark(w: str, n_buckets: int) -> str:
    """md5-hash bucket of one token: the first 8 md5 hex chars as an
    integer, mod n_buckets (the cross-engine hash convention of
    operators/assemble.py)."""
    return (
        f"pmod(cast(conv(substring(md5({w}), 1, 8), 16, 10) as bigint),"
        f" {n_buckets})"
    )


def bucket_expr_sql(w: str, n_buckets: int) -> str:
    """DuckDB twin of bucket_expr_spark (UBIGINT % n == conv mod n for
    32-bit inputs)."""
    return (
        f"CAST(CAST(concat('0x', substring(md5({w}), 1, 8)) AS UBIGINT)"
        f" % {n_buckets} AS BIGINT)"
    )


def teacher_score_spark() -> str:
    """The frozen quality teacher's document score: the sum over
    whitespace tokens of weight(bucket), bucket = the token's
    TEACHER_BUCKETS bucket and weight = md5('qw|' || bucket) mod 2001 -
    1000. The weights are a deterministic stand-in for a trained
    fastText/logistic model (the frozen-artifact policy of
    operators/pq_codebooks.json: no trained classifier ships in the
    sandbox); the Spark shape is what the real model would run. Integer
    arithmetic throughout, so both engines agree bit for bit."""
    bucket = bucket_expr_spark("w", TEACHER_BUCKETS)
    weight = bucket_expr_spark(
        f"concat('qw|', cast({bucket} as string))", _TEACHER_SPREAD
    )
    return (
        "aggregate(split(text, ' '), 0L,"
        f" (acc, w) -> acc + ({weight} - 1000))"
    )


def teacher_score_sql() -> str:
    """DuckDB twin of teacher_score_spark."""
    bucket = bucket_expr_sql("w", TEACHER_BUCKETS)
    weight = bucket_expr_sql(
        f"concat('qw|', CAST({bucket} AS VARCHAR))", _TEACHER_SPREAD
    )
    return (
        "CAST(list_sum(list_transform(string_split(text, ' '),"
        f" w -> {weight} - 1000)) AS BIGINT)"
    )


def teacher_keep_spark() -> str:
    """The teacher's keep decision: score >= 0."""
    return f"{teacher_score_spark()} >= 0"


def teacher_keep_sql() -> str:
    """DuckDB twin of teacher_keep_spark."""
    return f"{teacher_score_sql()} >= 0"


# ------------------------------------------ word n-grams, winnow, scrub --


def _words(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.split("text", " ").alias("w"))


def word_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, i0, g): every word n-gram of each document (text split
    on single spaces) with its 0-based start position. Documents shorter
    than n words give no rows: Spark's sequence(1, 0) runs backward to
    [1, 0], so the size guard is load-bearing. The position explode and
    the per-row slice fuse into one codegen stage (a transform(...) over
    the word array is interpreted per element)."""
    return (
        _words(docs)
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.expr(f"explode(sequence(1, size(w) - {n - 1}))").alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.expr("i - 1").alias("i0"),
            F.expr(f"concat_ws(' ', slice(w, i, {n}))").alias("g"),
        )
    )


def word_grams_sql(n: int) -> str:
    """DuckDB twin of word_grams."""
    return f"""
  SELECT doc_id, i - 1 AS i0,
         array_to_string(list_slice(w, i, i + {n - 1}), ' ') AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       unnest(generate_series(1, len(w) - {n - 1})) AS t(i)
  WHERE len(w) >= {n}
"""


# DuckDB twin of operators/dedup.py word_shingles(n=3): distinct (doc_id, sh)
SHINGLES_SQL = f"SELECT DISTINCT doc_id, g AS sh FROM ({word_grams_sql(3)})"


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, fp): winnowing fingerprints (the matchcode snippet
    index, matchcode/models.py:425-478). Every WINNOW_GRAM-word gram is
    md5-hashed and each window of WINNOW_WINDOW consecutive grams keeps
    its minimum, so a passage shared by two documents yields shared
    fingerprints. One row per gram: pos is the 0-based start of the
    window's first gram and fp the window minimum; callers aggregate
    (distinct fp, first position per fp, ...)."""
    grams = word_grams(docs, WINNOW_GRAM).select(
        "doc_id", F.col("i0").alias("pos"), F.md5("g").alias("g")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, WINNOW_WINDOW - 1
    )
    return grams.withColumn("fp", F.min("g").over(win)).drop("g")


WINNOW_SQL = f"""
  SELECT doc_id, pos,
         min(g) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING)
           AS fp
  FROM (SELECT doc_id, i0 AS pos, md5(g) AS g
        FROM ({word_grams_sql(WINNOW_GRAM)}))
"""


def span_scrub(docs: DataFrame, occ: DataFrame, n: int) -> DataFrame:
    """(doc_id, n_tokens, n_removed, scrubbed): each document's words
    with every position covered by a gram occurrence in `occ` removed
    and the survivors re-joined in order. `occ` holds (doc_id, i0) rows,
    one n-word gram starting at 0-based i0 each; the caller's rule picks
    them. A document without occurrences keeps all its words.

    Scale shape: cover-marking and reassembly shuffle by doc_id only.
    Reassembly filters positions inside one array expression per doc
    (no collect_list of exploded tokens): array_except builds a hash set
    of the covered positions once and streams the positions through it,
    O(tokens + covered) with the first array's order kept (positions are
    DISTINCT upstream)."""
    covered = occ.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(cast(i0 as bigint), cast(i0 as bigint) + {n - 1})")
        ).alias("pos"),
    ).distinct()
    cov_per_doc = covered.groupBy("doc_id").agg(F.collect_list("pos").alias("cov"))
    return (
        _words(docs)
        .join(cov_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
            F.expr(
                "array_join(transform(array_except("
                "sequence(0L, cast(size(w) as bigint) - 1),"
                " coalesce(cov, cast(array() as array<bigint>))),"
                " p -> element_at(w, cast(p as int) + 1)), ' ')"
            ).alias("scrubbed"),
        )
    )


def span_scrub_sql(occ: str, n: int) -> str:
    """DuckDB twin of span_scrub; `occ` is a query returning (doc_id, i0)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    covered AS (
      SELECT DISTINCT oc.doc_id, CAST(oc.i0 + o.j AS BIGINT) AS pos
      FROM ({occ}) oc, LATERAL unnest(generate_series(0, {n - 1})) o(j)
    ),
    cov_per_doc AS (
      SELECT doc_id, list(pos) AS cov FROM covered GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(c.cov), 0) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark; NULL
           -- text stays NULL on both
           CASE WHEN t.w IS NOT NULL THEN COALESCE(array_to_string(
             list_transform(
               list_filter(generate_series(0, len(t.w) - 1),
                           p -> NOT list_contains(COALESCE(c.cov, []), p)),
               p -> t.w[CAST(p AS INT) + 1]),
             ' '), '') END AS scrubbed
    FROM toks t LEFT JOIN cov_per_doc c ON c.doc_id = t.doc_id
"""
