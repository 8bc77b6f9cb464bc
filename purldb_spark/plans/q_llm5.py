"""The end-to-end corpus-curation FLAGSHIP: documents in, training-ready
pack assignments out, in one declarative plan.

    dedup decision (near-dup clusters -> keep best)          [q_llm3]
      -> quality gate (score >= 0.2)                         [functions/text]
      -> repetition gate (Gopher top-word/dup-bigram)        [q_llm2]
      -> classifier gate (frozen teacher, score >= 0)        [functions/text]
      -> perplexity gate (drop the CCNet 'tail' tercile)     [q_select]
      -> deterministic stratified sample (per-source rates)  [assemble]
      -> sequence packing into 4096-token bins               [assemble]

Every stage is an operator that is ALSO verified standalone; the oracle
here recomputes the whole composition relationally (WITH RECURSIVE closure
included), so the driver check covers stage INTERACTIONS — the thing
pipeline bugs actually live in.

Scale: the expensive stages are the dedup pair generation and closure
(shapes measured in BENCH_scale.md); everything downstream is map-side
filters, one tiny broadcast, and a 16-shard window cumsum. Catalyst fuses
the three gates into the scan of the keep-best output, so the pipeline
adds no extra pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import (
    n_tokens_ws,
    quality_sql,
    SHINGLES_SQL,
    teacher_keep_spark,
    teacher_keep_sql,
)
from purldb_spark.operators.assemble import pack_greedy, stratified_sample
from purldb_spark.plans.q_llm2 import text_repetition
from purldb_spark.plans.q_llm3 import dedup_cluster_keep_best
from purldb_spark.plans.q_llm4 import _DEFAULT_RATE, _H_SQL, _RATES, _THRESH_SQL
from purldb_spark.plans.q_select import select_perplexity_buckets
from purldb_spark.plans.registry import query

_QUALITY_FLOOR = 0.2
_PACK_BUDGET = 4096


@query(
    "corpus_curate_pipeline",
    oracle=f"""
    WITH RECURSIVE shingles AS ({SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    near AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM near
      UNION SELECT doc_b, doc_a FROM near
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, reach.r FROM edges e JOIN reach ON reach.node = e.a
    ),
    clusters AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    ),
    quality AS (SELECT doc_id, {quality_sql("text")} FROM documents),
    member AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             q.quality_score
      FROM documents d
      LEFT JOIN clusters c ON c.doc_id = d.doc_id
      JOIN quality q ON q.doc_id = d.doc_id
    ),
    kept AS (
      SELECT doc_id, quality_score FROM (
        SELECT doc_id, quality_score,
               row_number() OVER (
                 PARTITION BY cluster_id
                 ORDER BY quality_score DESC, doc_id ASC
               ) AS rn
        FROM member
      ) WHERE rn = 1 AND quality_score >= {_QUALITY_FLOOR}
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    b AS (
      SELECT doc_id, words, len(words) AS n_words,
             [words[i] || ' ' || words[i+1] FOR i IN range(1, len(words))]
               AS bigrams
      FROM w
    ),
    topw AS (
      SELECT doc_id, max(cnt) AS top_word_count
      FROM (
        SELECT doc_id, word, count(*) AS cnt
        FROM (SELECT doc_id, unnest(words) AS word FROM w)
        GROUP BY 1, 2
      ) GROUP BY doc_id
    ),
    nonrep AS (
      SELECT b.doc_id FROM b JOIN topw ON b.doc_id = topw.doc_id
      WHERE CAST(top_word_count AS DOUBLE) / n_words <= 0.1
        AND 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
              <= 0.3
    ),
    qc AS (
      SELECT doc_id FROM documents WHERE {teacher_keep_sql()}
    ),
    pgrams AS (
      SELECT doc_id, lang, substr(text, i, 3) AS g
      FROM documents, LATERAL unnest(generate_series(1, length(text) - 2)) t(i)
      WHERE length(text) >= 3
    ),
    pref AS (SELECT g, count(*) AS cnt FROM pgrams WHERE lang = 'en' GROUP BY g),
    ptot AS (SELECT sum(cnt) AS total, count(*) AS v FROM pref),
    plm AS (
      SELECT g, CAST(floor(1000000.0 * ln((cnt + 1) / CAST(greatest(COALESCE(total, 0) + v, 1) AS DOUBLE)))
                     AS BIGINT) AS lq
      FROM pref CROSS JOIN ptot
    ),
    pscored AS (
      SELECT gr.doc_id, gr.lang,
             CAST(SUM(COALESCE(plm.lq,
               (SELECT CAST(floor(1000000.0 * ln(1.0 / CAST(greatest(COALESCE(total, 0) + v, 1) AS DOUBLE)))
                            AS BIGINT) FROM ptot))) AS BIGINT) AS nll_sum_q,
             COUNT(*) AS n_grams
      FROM pgrams gr LEFT JOIN plm ON gr.g = plm.g
      GROUP BY gr.doc_id, gr.lang
    ),
    pok AS (
      SELECT doc_id FROM (
        SELECT doc_id, ntile(3) OVER (PARTITION BY lang
                 ORDER BY nll_sum_q * 1.0 / n_grams DESC, doc_id) AS tile
        FROM pscored
      ) WHERE tile <> 3
    ),
    survivors AS (
      SELECT d.doc_id AS doc_id, d.source, k.quality_score,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d
      JOIN kept k ON k.doc_id = d.doc_id
      JOIN nonrep r ON r.doc_id = d.doc_id
      JOIN qc ON qc.doc_id = d.doc_id
      JOIN pok ON pok.doc_id = d.doc_id
      WHERE {_H_SQL.replace("doc_id", "d.doc_id")}
            < {_THRESH_SQL.replace("source", "d.source")}
    ),
    packed AS (
      SELECT doc_id, source, quality_score, n_tokens,
             substring(md5(concat('7|', CAST(doc_id AS VARCHAR))), 1, 1)
               AS shard,
             SUM(n_tokens) OVER (
               PARTITION BY substring(
                 md5(concat('7|', CAST(doc_id AS VARCHAR))), 1, 1)
               ORDER BY md5(concat('7|', CAST(doc_id AS VARCHAR))), doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM survivors
    )
    SELECT doc_id, source, round(quality_score, 6) AS quality_score,
           n_tokens, shard,
           CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM packed
    """,
)
def corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents -> training-ready pack assignments: dedup keep-best,
    quality floor, repetition gate, hashed-classifier gate, CCNet
    perplexity tail-drop, deterministic stratified sample, 4096-token
    sequence packing. Composes the standalone-verified operators; see
    module docstring for the scale argument."""
    from purldb_spark.functions.text import quality_features

    docs = load(spark, sf_dir, "documents")
    # the keep flag comes from the standalone-verified decision query; the
    # quality floor is applied to the RAW score (keep_best rounds its
    # output — filtering on the rounded value would diverge from the
    # oracle at the 0.2 boundary)
    raw_quality = docs.select(
        "doc_id",
        quality_features("text")["quality_score"].alias("quality_score"),
    )
    kept = (
        dedup_cluster_keep_best(spark, sf_dir)
        .filter("keep")
        .select("doc_id")
        .join(raw_quality, "doc_id")
        .filter(F.col("quality_score") >= _QUALITY_FLOOR)
    )
    nonrep = text_repetition(spark, sf_dir).filter("keep").select("doc_id")
    # classifier gate fuses into the scan (map-only, no join); the
    # perplexity gate joins the bucket-label table — in production those
    # labels are a column stamped at ingest (CCNet ships them per shard),
    # so the join disappears into the scan there too
    ppl_ok = (
        select_perplexity_buckets(spark, sf_dir)
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id")
    )
    base = (
        docs.filter(F.expr(teacher_keep_spark()))
        .select("doc_id", "source", n_tokens_ws("text").alias("n_tokens"))
        .join(kept, "doc_id")
        .join(nonrep, "doc_id")
        .join(ppl_ok, "doc_id")
    )
    sampled = stratified_sample(
        base, "source", "doc_id", _RATES, _DEFAULT_RATE, seed=42
    ).drop("h")
    packed = pack_greedy(sampled, "doc_id", "n_tokens", _PACK_BUDGET, seed=7)
    return packed.select(
        "doc_id",
        "source",
        F.round("quality_score", 6).alias("quality_score"),
        "n_tokens",
        "shard",
        "bin_id",
    )
