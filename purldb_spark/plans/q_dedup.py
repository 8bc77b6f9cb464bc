"""Training-data-pipeline queries, text-dedup family (split from the former
q_llm.py so one edit no longer invalidates the whole LLM-ops inventory's
verification hashes at once).

Dedup coverage map:
  exact            -> dedup_exact           (hash groupBy)
  MinHash+LSH      -> dedup_minhash_lsh     (shingle→minhash→band→join→verify)
  SimHash          -> dedup_simhash         (bit votes→banded join→hamming)
  n-gram jaccard   -> dedup_ngram_jaccard   (inverted-index exact pairs)
  incremental      -> dedup_incremental     (new batch vs persistent band index)
  substring        -> dedup_substring_winnow (shared winnow fingerprints)
  clustering       -> dedup_cluster_cc      (connected components over pairs)
  decontamination  -> decontam_ngram_overlap

The embedding near-dup family lives in q_embed.py, ANN search in q_knn.py,
text analysis in q_text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.text import (
    SHINGLES_SQL,
    WINNOW_SQL,
    winnow_fingerprints,
)
from purldb_spark.operators.dedup import (
    df_capped_candidate_pairs,
    exact_dedup,
    incremental_lsh_dedup,
    lsh_candidate_pairs,
    verify_jaccard,
)
from purldb_spark.operators.simhash_wide import (
    simhash_wide_sql,
    wide_near_pairs,
)
from purldb_spark.plans.fixture_cache import (
    capped_posting,
    doc_shingles,
    minhash_band_index,
    simhash_fingerprints,
)
from purldb_spark.plans.q_match import a5_snippet_jaccard
from purldb_spark.plans.registry import ORACLES, query

# ------------------------------------------------------------------ dedup --


@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    marked AS (
      SELECT doc_id, content_hash,
             first_value(doc_id) OVER (PARTITION BY content_hash ORDER BY doc_id)
               AS canonical_doc_id
      FROM hashed
    )
    SELECT doc_id, content_hash, canonical_doc_id,
           doc_id <> canonical_doc_id AS is_duplicate
    FROM marked
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) hash-groupBy; lowest doc_id canonical. One
    shuffle on the content hash — at 100 TB partition the write by a hash
    prefix and this runs fully parallel with no skew (md5 is uniform)."""
    return exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


_N_HASHES, _BAND_SIZE = 8, 2
_MINHASH_AGGS_SQL = ", ".join(
    f"min(md5('{s}|' || sh)) AS h{s}" for s in range(_N_HASHES)
)
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, h{b * _BAND_SIZE} || h{b * _BAND_SIZE + 1} AS band_key FROM sig"
    for b in range(_N_HASHES // _BAND_SIZE)
)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingles AS ({SHINGLES_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingles GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS intersection
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, intersection,
           CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: word-3-gram shingles -> 8 seeded
    min-hashes -> 4 bands of 2 -> candidate pairs from ONE equi-join on
    (band_idx, band_key) -> exact-jaccard verify of candidates only,
    keep ≥ 0.5.

    This is the 100 TB dedup path: signature computation is a single
    aggregation (partial min map-side), banding makes candidate generation
    O(colliding pairs), and the expensive exact verify runs only on
    candidates. The all-pairs variant (dedup_ngram_jaccard) is the oracle's
    ground truth at small scale.

    Fixed-width audit (r10, the coarse_k/lsh_n_planes question asked of
    every banded family): MinHash banding is NOT bucket-width-bound and
    needs no corpus-scaled parameter. Its band key is the concatenation of
    r = 2 raw 60-bit min-hash VALUES — a 2^120 key space — so random-pair
    collisions are governed by the corpus's Jaccard distribution
    (P = J^r per band), not by N^2/2^bits bucket saturation the way
    fixed-width hyperplane-LSH or SimHash buckets are
    (operators/scale_params.py). b and r stay the threshold knobs
    (t ~ (1/b)^(1/r) = 0.25 here), chosen by the target similarity, not
    by N."""
    sh = doc_shingles(spark, sf_dir)
    bands = minhash_band_index(spark, sf_dir)
    cands = lsh_candidate_pairs(bands, "doc_id")
    return verify_jaccard(cands, sh, "doc_id", 0.5)


@query(
    "dedup_incremental",
    oracle=f"""
    WITH shingles AS ({SHINGLES_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingles GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM (SELECT * FROM bands WHERE doc_id % 7 = 0) a
      JOIN (SELECT * FROM bands WHERE doc_id % 7 <> 0) b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS intersection
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a AS new_id, id_b AS index_id, intersection,
           CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) >= 0.5
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW batch of documents
    checked against a persistent band INDEX (operators/dedup.py::
    incremental_lsh_dedup), one equi-join of batch bands vs stored bands,
    never an all-pairs recompute over the corpus.

    The fixture split is deterministic (doc_id % 7 == 0 is the "new batch",
    the rest is the "index") so the DuckDB oracle can replay it; in
    production the index side is a parquet table partitioned by
    hash(band_key) that each batch appends to after verification, making
    per-batch cost O(batch x collision rate) regardless of corpus size."""
    sh = doc_shingles(spark, sf_dir)
    bands = minhash_band_index(spark, sf_dir)
    is_new = F.col("doc_id") % 7 == 0
    cands = incremental_lsh_dedup(
        bands.filter(is_new), bands.filter(~is_new), "doc_id"
    )
    verified = verify_jaccard(
        cands.select(
            F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
        ),
        sh,
        "doc_id",
        0.5,
    )
    return verified.select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("index_id"),
        "intersection",
        "jaccard",
    )


@query(
    "dedup_ngram_jaccard",
    oracle=ORACLES["a5_snippet_jaccard"].replace(">= 0.3", ">= 0.5"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard dedup — the all-pairs ground truth (shares the
    inverted-index implementation with a5_snippet_jaccard, threshold 0.5)."""
    return a5_snippet_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.5)


_DF_CAP = 16
_MIN_SUPPORT = 2


@query(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH shingles AS ({SHINGLES_SQL}),
    rare AS (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= {_DF_CAP}),
    cands AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shingles a
      JOIN rare r ON r.sh = a.sh
      JOIN shingles b ON b.sh = a.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= {_MIN_SUPPORT}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS intersection
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, intersection,
           CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) >= 0.5
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe n-gram jaccard: candidate pairs only from pairs sharing
    at least 2 shingles of document frequency <= 16 (a shingle in k docs
    makes k² candidate rows — the df cap bounds the quadratic term, and hot
    shingles carry no signal; the support-2 floor drops the long tail of
    single-collision pairs that dominate candidate volume), then exact
    jaccard over the FULL shingle sets for the candidates, >= 0.5.

    vs dedup_ngram_jaccard (the uncapped ground truth): misses a pair only
    when fewer than 2 of its shared shingles are rare; scores of emitted
    pairs are identical. The plan is equi-joins only — no shingle key ever
    fans out more than df_cap ways, so the shuffle volume is linear in
    corpus size at 100 TB."""
    # the session-shared shingle fixture feeds candidate generation and
    # both sides of the verify (fixture_cache.doc_shingles)
    sh = doc_shingles(spark, sf_dir)
    # r16: materialize the candidate pair-id set once — verify_jaccard
    # references it THREE times (semi-join id union x2 + the intersect
    # probe), each re-running the pair join + support groupBy + prune
    # joins; the checkpointed payload is pair ids only (KB-scale, the
    # dedup_recall_eval r15 pattern, guide §5)
    cands = df_capped_candidate_pairs(
        sh,
        "doc_id",
        _DF_CAP,
        _MIN_SUPPORT,
        jaccard_floor=0.5,
        posting=capped_posting(spark, sf_dir, _DF_CAP),
    ).localCheckpoint(eager=True)
    return verify_jaccard(cands, sh, "doc_id", 0.5)


# SimHash features are 3-word shingles, not raw tokens: the synthetic corpus
# has a ~30-word vocabulary, so token SETS are nearly identical across
# documents and token-level simhash degenerates (every pair within hamming 3).
# Shingles are high-cardinality and shared only by near-duplicates.
_TOKENS_SQL = SHINGLES_SQL.replace("AS sh", "AS tok")


@query(
    "dedup_simhash",
    oracle=f"""
    WITH sim AS ({simhash_wide_sql("doc_id", _TOKENS_SQL)}),
    bands AS (
      SELECT doc_id, sim_lo, sim_hi, b AS band_idx,
             CASE WHEN b < 2 THEN (sim_lo >> (b * 30)) & 1073741823
                  ELSE (sim_hi >> ((b - 2) * 30)) & 1073741823
             END AS band_key
      FROM sim, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sim_lo AS lo_a, a.sim_hi AS hi_a,
                      b.sim_lo AS lo_b, b.sim_hi AS hi_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
                AS BIGINT) AS hamming
    FROM cands
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, 120-BIT since r11 (operators/
    simhash_wide.py — two md5-slice 60-bit halves): per-shingle bit votes,
    pairs at hamming <= 3 via the 4-band pigeonhole join (hamming <= 3
    over 4 bands forces >= 1 identical 30-bit band), exact two-term
    bit_count verify. Features are 3-word shingles (see _TOKENS_SQL note).

    Width history — BENCH_scale finding 1 applied twice: the 32-bit
    original's 8-bit bands measured ~quadratic at 10x corpus (random band
    collisions ~ N^2/2^width); the 60-bit/15-bit layout (operators/dedup.
    simhash, retained as the small-scale config for unit tests) restored
    linearity to N ~ 10^5-10^6; and since the pigeonhole guarantee PINS
    the 4-way split (fingerprint length is SimHash's only scale knob —
    the r10 audit), the 120-bit/30-bit layout here carries linearity to
    N ~ 10^9-10^10, the 100 TB regime. Fingerprints read from the stored
    fixture (fixture_cache.simhash_fingerprints); the oracle re-derives
    all 120 votes relationally from raw documents."""
    sim = simhash_fingerprints(spark, sf_dir)
    return wide_near_pairs(sim, "doc_id", max_hamming=3)


_SUB_CAP = 16  # fingerprint document-frequency cap
_SUB_MIN = 4  # shared fingerprints to call it substring overlap


@query(
    "dedup_substring_winnow",
    oracle=f"""
    WITH winnowed AS (SELECT DISTINCT doc_id, fp FROM ({WINNOW_SQL})),
    rare AS (
      SELECT fp FROM winnowed GROUP BY fp HAVING count(*) <= {_SUB_CAP}
    ),
    posting AS (SELECT w.doc_id, w.fp FROM winnowed w JOIN rare r ON r.fp = w.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM posting a JOIN posting b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_SUB_MIN}
    """,
)
def dedup_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap dedup: pairs of documents sharing >= 4
    winnow fingerprints — the operator that catches COPIED PASSAGES
    (boilerplate, quoted blocks) that whole-document jaccard misses when
    the rest of the text differs.

    Scale shape: winnowing keeps ~1/w of the gram hashes (one per window,
    the classic winnowing guarantee), so the inverted index joined here is
    4x smaller than the full shingle index of the jaccard family for the
    same substring-match guarantee; the document-frequency cap bounds the
    self-join fan-out exactly like df_capped_candidate_pairs. All
    equi-joins, one shuffle on fp, map-side partial counts."""
    winnowed = (
        winnow_fingerprints(load(spark, sf_dir, "documents"))
        .select("doc_id", "fp")
        .dropDuplicates()
    )
    rare = (
        winnowed.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _SUB_CAP)
        .select("fp")
    )
    posting = winnowed.join(rare, "fp")
    a = posting.alias("a")
    b = posting.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= _SUB_MIN)
    )


# ------------------------------------------------- decontam + clustering --


@query(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH shingles AS ({SHINGLES_SQL}),
    bench AS (SELECT DISTINCT sh FROM shingles WHERE doc_id % 37 = 0),
    corpus AS (SELECT * FROM shingles WHERE doc_id % 37 <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
    hits AS (
      SELECT c.doc_id, count(*) AS overlap
      FROM corpus c JOIN bench b ON c.sh = b.sh
      GROUP BY 1
    )
    SELECT h.doc_id, h.overlap, s.n_shingles,
           CAST(h.overlap AS DOUBLE) / s.n_shingles AS contamination
    FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    3-gram shingles with a held-out benchmark slice (here doc_id % 37 = 0
    stands in for the benchmark). One broadcast hash join of the corpus
    shingles against the distinct benchmark shingles + a per-document
    count — linear in corpus size (operators/dedup.py::
    contamination_overlap)."""
    from purldb_spark.operators.dedup import contamination_overlap

    sh = doc_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 37 == 0)
    corpus = sh.filter(F.col("doc_id") % 37 != 0)
    return contamination_overlap(corpus, bench, "doc_id")


@query(
    "dedup_cluster_cc",
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
    )
    SELECT node AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the exact jaccard
    >= 0.5 near-dup pairs, component id = smallest doc_id
    (operators/dedup.py::connected_components — min-label propagation,
    one join + aggregation + localCheckpoint per wave). The DuckDB
    oracle computes the same closure with WITH RECURSIVE — the driver
    comparison therefore checks true transitive-closure equality, not
    just pair parity.

    The pair table comes from the shared session fixture
    (fixture_cache.near_dup_pairs) — in production it is materialized
    state appended by the incremental dedup pipeline
    (streaming/dedup_stream.py), read here like the match family reads
    the BAH128 index."""
    from purldb_spark.plans.fixture_cache import dup_clusters

    # thresholded near-dup clusters are near-cliques: the changed-label
    # early-exit stops after 2-3 waves; max_iter stays a deep safety bound
    return dup_clusters(spark, sf_dir)


# ---------------------------------------------------- dedup_recall_eval --


@query(
    "dedup_recall_eval",
    oracle=f"""
    WITH shingles AS ({SHINGLES_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM shingles GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS intersection
      FROM cands c
      JOIN shingles sa ON sa.doc_id = c.id_a
      JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
      GROUP BY c.id_a, c.id_b
    ),
    lsh AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes na ON na.doc_id = id_a
                 JOIN sizes nb ON nb.doc_id = id_b
      WHERE CAST(intersection AS DOUBLE) / (na.n + nb.n - intersection) >= 0.5
    ),
    gt AS (
      SELECT doc_a AS id_a, doc_b AS id_b FROM (
        {ORACLES["dedup_ngram_jaccard"]}
      ) g
    ),
    marked AS (
      SELECT CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM gt g LEFT JOIN lsh l
        ON l.id_a = g.id_a AND l.id_b = g.id_b
    )
    SELECT 'minhash_lsh_{_N_HASHES}x{_BAND_SIZE}' AS method,
           CAST((SELECT count(*) FROM cands) AS BIGINT) AS n_candidates,
           CAST(COALESCE(sum(hit), 0) AS BIGINT) AS hits,
           CAST(count(*) AS BIGINT) AS possible,
           CAST(COALESCE(sum(hit), 0) * 1000000
                // (SELECT greatest(count(*), 1) FROM gt) AS BIGINT)
             AS recall_e6,
           CAST(COALESCE(sum(hit), 0) * 1000000
                // (SELECT greatest(count(*), 1) FROM cands) AS BIGINT)
             AS cand_precision_e6
    FROM marked
    """,
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation — the text twin of knn_recall_fully_trained:
    banding recall of the MinHash-LSH pipeline against the EXACT
    all-pairs jaccard >= 0.5 ground truth (dedup_ngram_jaccard's inverted
    index), plus candidate efficiency (what fraction of banded candidate
    pairs survive the exact verify — the knob that prices the verify
    stage). Both pipelines share the identical shingle/jaccard semantics,
    so the verified LSH pairs are a true subset of the ground truth and
    recall isolates pure banding loss ({_N_HASHES} hashes x
    {_N_HASHES // _BAND_SIZE} bands of {_BAND_SIZE}); this is the number a
    production dedup run publishes when choosing its band configuration
    (the BENCH_scale finding-1 knob: buy recall with bands/probes, not
    index copies).

    Scale shape: the approx side is the production banded equi-join off
    the persistent band index; the GT side is the df-bounded inverted
    index (sum(df^2) — the labeled ground-truth cost, sampled in
    production recall monitoring). All counts and ratios ride the e6
    BIGINT grid; empty-corpus behavior is zeros via coalesce + division
    guards."""
    sh = doc_shingles(spark, sf_dir)
    bands = minhash_band_index(spark, sf_dir)
    # r15: materialize the shared pair sets once — cands previously ran
    # twice (count + verify join) and gt twice (count + marked join);
    # localCheckpoint holds only pair ids (KBs)
    cands = lsh_candidate_pairs(bands, "doc_id").localCheckpoint(eager=True)
    n_candidates = cands.count()  # driver scalar (documented BNLJ avoidance)
    lsh = verify_jaccard(cands, sh, "doc_id", 0.5).select("id_a", "id_b")
    gt = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    n_gt = gt.count()  # driver scalar
    marked = gt.join(
        lsh.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).select(F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    return (
        marked.agg(
            F.count(F.lit(1)).cast("long").alias("possible"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("hits"),
        )
        .withColumn(
            "method", F.lit(f"minhash_lsh_{_N_HASHES}x{_BAND_SIZE}")
        )
        .withColumn("n_candidates", F.lit(n_candidates).cast("long"))
        .withColumn(
            "recall_e6",
            F.expr(f"hits * 1000000L div {max(n_gt, 1)}L").cast("long"),
        )
        .withColumn(
            "cand_precision_e6",
            F.expr(f"hits * 1000000L div {max(n_candidates, 1)}L").cast(
                "long"
            ),
        )
        .select(
            "method",
            "n_candidates",
            "hits",
            "possible",
            "recall_e6",
            "cand_precision_e6",
        )
    )
