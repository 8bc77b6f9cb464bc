"""Semantic unit tests for the selection family (plans/q_select.py):
DSIR importance resampling and ExactSubstr repeated-span scrubbing.
The exact-value oracle parity lives in tests/test_oracle.py; these pin the
ALGORITHM properties the hash compare cannot name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from purldb_spark.functions.text import bucket_expr_spark
from purldb_spark.plans.registry import QUERIES, load_inventory

load_inventory()

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def dsir_rows(spark):
    return QUERIES["select_dsir"](spark, SF).collect()


@pytest.fixture(scope="module")
def scrub_df(spark):
    return QUERIES["text_repeated_span_scrub"](spark, SF)


def test_dsir_selects_k_rows(dsir_rows):
    assert len(dsir_rows) == 100
    assert len({r["doc_id"] for r in dsir_rows}) == 100


def test_dsir_key_is_weight_plus_gumbel(dsir_rows):
    # the Gumbel perturbation is bounded in practice; the key must never
    # stray far from the weight (floor(1e6 * gumbel) for u in the md5
    # hash space lies within (-1e6*ln(ln(2^32)), 1e6*22.2))
    for r in dsir_rows:
        assert abs(r["key"] - r["log_w"]) < 25_000_000


def test_dsir_prefers_target_like_docs(spark, dsir_rows):
    # Selected docs should be enriched in the target language relative to
    # its pool base rate. The synthetic corpus shares ONE 31-word
    # vocabulary across all 5 languages (languages differ only in word
    # FREQUENCIES), so the true importance signal is ~0.4 nats/doc against
    # Gumbel noise of ~1.3 — mild but deterministic enrichment, not the
    # near-pure selection real web/wiki distributions would give.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tgt = {r["doc_id"] for r in docs.filter("lang = 'en'").collect()}
    n_docs = docs.count()
    base_rate = len(tgt) / n_docs
    sel_rate = sum(1 for r in dsir_rows if r["doc_id"] in tgt) / len(dsir_rows)
    assert sel_rate > base_rate


def test_dsir_scores_rank_target_language_first(spark):
    # the UNNOISED importance weight must rank the target language's
    # documents above every other language on average — the direct test of
    # the estimator, independent of resampling noise
    import purldb_spark.plans.q_select as qs

    sel_all = QUERIES["select_dsir"]  # noqa: F841  (builder reuse below)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # rebuild the scored frame at full-pool size via the module internals
    from pyspark.sql import functions as FF

    counts = (
        docs.select(
            FF.expr(f"({qs._TARGET_PRED_SPARK})").alias("is_t"),
            FF.explode(FF.split("text", " ")).alias("wd"),
        )
        .select("is_t", FF.expr(bucket_expr_spark("wd", 1024)).alias("b"))
        .groupBy("b")
        .agg(
            FF.sum(FF.when(FF.col("is_t"), 1).otherwise(0)).alias("ct"),
            FF.count("*").alias("cr"),
        )
        .collect()
    )
    import math

    ct = {int(r["b"]): int(r["ct"]) for r in counts}
    cr = {int(r["b"]): int(r["cr"]) for r in counts}
    tt, tr = sum(ct.values()), sum(cr.values())
    lr = [
        math.floor(
            1e6
            * (
                math.log(ct.get(b, 0) + 1)
                - math.log(tt + qs._B)
                - math.log(cr.get(b, 0) + 1)
                + math.log(tr + qs._B)
            )
        )
        for b in range(qs._B)
    ]
    lr_lit = "array(" + ", ".join(f"{v}L" for v in lr) + ")"
    bw = bucket_expr_spark("wd", 1024)
    by_lang = {
        r["lang"]: r["s"]
        for r in docs.select(
            "lang",
            FF.expr(
                f"aggregate(split(text, ' '), 0L, (acc, wd) ->"
                f" acc + element_at({lr_lit}, cast({bw} as int) + 1))"
            ).alias("log_w"),
        )
        .groupBy("lang")
        .agg(FF.avg("log_w").alias("s"))
        .collect()
    }
    assert by_lang["en"] == max(by_lang.values())


def test_scrub_keeps_first_occurrence_and_length_accounting(scrub_df):
    rows = scrub_df.collect()
    # every doc is present, scrubbed length == n_tokens - n_removed
    for r in rows:
        n_left = len(r["scrubbed"].split(" ")) if r["scrubbed"] else 0
        assert n_left == r["n_tokens"] - r["n_removed"]
    # duplication exists in the corpus, so SOMETHING was removed...
    assert any(r["n_removed"] > 0 for r in rows)
    # ...but never from every copy: each duplicated span's first occurrence
    # survives, so the corpus keeps at least one copy of every 10-gram
    assert any(r["n_removed"] == 0 for r in rows)


def test_scrub_no_duplicate_10grams_remain(spark, scrub_df):
    # after scrubbing, no 10-gram may appear twice UNLESS it was newly
    # created by stitching survivors together across a removed gap; grams
    # fully inside surviving runs of the ORIGINAL text must be unique.
    # Conservative check: total duplicated-10-gram mass must collapse
    # (>= 90% reduction on this corpus).
    def dup_mass(df, col):
        grams = df.filter(F.size(F.split(col, " ")) >= 10).select(
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(split({col}, ' ')) - 9),"
                    f" i -> concat_ws(' ', slice(split({col}, ' '), i, 10)))"
                )
            ).alias("i", "g")
        )
        agg = grams.groupBy("g").count().filter("count >= 2")
        return agg.agg(F.coalesce(F.sum("count"), F.lit(0))).collect()[0][0]

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    before = dup_mass(docs, "text")
    after = dup_mass(
        scrub_df.filter("scrubbed <> ''").withColumnRenamed(
            "scrubbed", "text2"
        ),
        "text2",
    )
    assert before > 0
    assert after <= before * 0.1


# ---------------------------------------------------------------------------
# select_perplexity_buckets
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ppl_rows(spark):
    return QUERIES["select_perplexity_buckets"](spark, SF).collect()


def test_ppl_covers_every_document(spark, ppl_rows):
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "length(text) >= 3"
    ).count()
    assert len(ppl_rows) == n_docs
    assert len({r["doc_id"] for r in ppl_rows}) == n_docs


def test_ppl_terciles_are_balanced_per_language(ppl_rows):
    # ntile(3) guarantee: within each language the three buckets differ
    # in size by at most 1
    from collections import Counter

    by_lang: dict[str, Counter] = {}
    for r in ppl_rows:
        by_lang.setdefault(r["lang"], Counter())[r["ppl_bucket"]] += 1
    for lang, c in by_lang.items():
        sizes = [c["head"], c["middle"], c["tail"]]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_ppl_bucket_order_matches_avg_logprob(ppl_rows):
    # CCNet semantics: head = lowest perplexity = highest avg logprob.
    # Within each language every head doc must score >= every middle doc,
    # and every middle >= every tail (ties broken by doc_id inside ntile,
    # so compare with >=).
    by_lang: dict[str, dict[str, list[float]]] = {}
    for r in ppl_rows:
        avg = r["nll_sum_q"] / r["n_grams"]
        by_lang.setdefault(r["lang"], {}).setdefault(
            r["ppl_bucket"], []
        ).append(avg)
    for lang, b in by_lang.items():
        assert min(b["head"]) >= max(b["middle"]), lang
        assert min(b["middle"]) >= max(b["tail"]), lang


def test_ppl_scores_are_negative_log_sums(ppl_rows):
    # every per-gram logprob is < 0 on the 1e-6 grid, so each document's
    # sum must be strictly negative and at least -1e6 * n_grams * ln(2)
    # ... i.e. bounded below by the worst smoothed prob (1/denom)
    for r in ppl_rows:
        assert r["nll_sum_q"] < 0
        assert r["n_grams"] >= 1


# ---------------------------------------------------------------------------
# select_quality_classifier
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def qc_rows(spark):
    return QUERIES["select_quality_classifier"](spark, SF).collect()


def test_qc_recomputes_in_python(spark, qc_rows):
    # independent reimplementation of the hashing-trick fold: md5 bucket
    # then md5-derived frozen weight, per token — the direct check that
    # the Spark fold implements the documented model
    import hashlib

    def weight(tok: str) -> int:
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096
        return int(
            hashlib.md5(f"qw|{b}".encode()).hexdigest()[:8], 16
        ) % 2001 - 1000

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    for r in qc_rows[:50]:
        toks = docs[r["doc_id"]].split(" ")
        assert r["n_tokens"] == len(toks)
        assert r["score_q"] == sum(weight(t) for t in toks), r["doc_id"]


def test_qc_gate_matches_score_sign(qc_rows):
    for r in qc_rows:
        assert r["is_quality"] == (r["score_q"] >= 0)
        assert abs(r["score_q"]) <= 1000 * r["n_tokens"]


def test_qc_score_bounded_by_weight_grid(qc_rows):
    # weights live on [-1000, 1000]; a document of n tokens cannot exceed
    # that envelope, and the corpus should exercise both classes
    labels = {r["is_quality"] for r in qc_rows}
    assert labels == {True, False}


# ---------------------------------------------------------------------------
# select_unimax_budget (UniMax waterfilling)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def unimax_rows(spark):
    return QUERIES["select_unimax_budget"](spark, SF).collect()


def test_unimax_allocations_respect_caps(unimax_rows):
    for r in unimax_rows:
        assert 0 < r["alloc_tokens"] <= r["capacity"]
        assert r["epochs_e6"] <= 1_000_000  # never above the epoch cap


def test_unimax_spends_the_budget_up_to_rounding(unimax_rows):
    total = sum(r["n_tokens"] for r in unimax_rows)
    budget = (8 * total) // 10
    spent = sum(r["alloc_tokens"] for r in unimax_rows)
    n_uncapped = sum(1 for r in unimax_rows if not r["capped"])
    assert spent <= budget
    # integer division leaves < 1 token per uncapped language unassigned
    assert budget - spent < max(n_uncapped, 1)


def test_unimax_capped_set_is_prefix_of_capacity_order(unimax_rows):
    rows = sorted(unimax_rows, key=lambda r: (r["capacity"], r["lang"]))
    flags = [r["capped"] for r in rows]
    # once a language is uncapped, every larger one is too
    assert flags == sorted(flags, reverse=True)


def test_unimax_uncapped_share_a_water_level(unimax_rows):
    levels = {r["alloc_tokens"] for r in unimax_rows if not r["capped"]}
    assert len(levels) <= 1
    if levels:
        # the water level is below every uncapped capacity (else it'd be capped)
        level = levels.pop()
        for r in unimax_rows:
            if not r["capped"]:
                assert level < r["capacity"]


# ---------------------------------------------------------------------------
# select_gopher_rules
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def gopher_rows(spark):
    return QUERIES["select_gopher_rules"](spark, SF).collect()


def test_gopher_keep_is_the_rule_conjunction(gopher_rows):
    for r in gopher_rows:
        assert r["keep"] == (
            r["r_word_count"] and r["r_word_len"]
            and r["r_stopwords"] and r["r_repetition"]
        )


def test_gopher_every_rule_discriminates(gopher_rows):
    # thresholds are tuned to the synthetic corpus: each rule must actually
    # reject something and keep something, else the gate is dead weight
    for rule in ("r_word_count", "r_word_len", "r_stopwords", "r_repetition"):
        vals = {r[rule] for r in gopher_rows}
        assert vals == {True, False}, rule


def test_gopher_rules_recompute_on_a_handcrafted_doc(spark):
    from purldb_spark.plans.q_select import (
        _GOPHER_MIN_WORDS,
        _GOPHER_TOP_WORD_DEN,
    )

    # 30 words, "the"/"of" present, top word 'x' repeated 24x -> repetition fail
    text = " ".join(["x"] * 24 + ["the", "of", "alpha", "beta", "gamma", "delta"])
    df = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    import purldb_spark.plans.q_select as qs

    base_loader = qs.load
    try:
        qs.load = lambda _s, _d, _t: df
        row = QUERIES["select_gopher_rules"](spark, SF).collect()[0]
    finally:
        qs.load = base_loader
    assert row["n_words"] == 30 >= _GOPHER_MIN_WORDS
    assert row["r_word_count"]
    assert row["r_stopwords"]
    assert row["top_word_n"] == 24
    assert not row["r_repetition"]  # 24 * 5 > 30
    assert not row["keep"]


# ---------------------------------------------------------------------------
# mix_temperature_sampling
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def temp_rows(spark):
    return QUERIES["mix_temperature_sampling"](spark, SF).collect()


def test_temperature_flattens_extremes_toward_uniform(temp_rows):
    # alpha=1/2 smoothing: the EXTREME shares move toward uniform (max
    # share shrinks, min share grows — provable for any 0 < alpha < 1);
    # middle shares may legitimately cross uniform, so only the extremes
    # and the relative-gain monotonicity below are asserted
    hi = max(temp_rows, key=lambda r: r["n_tokens"])
    lo = min(temp_rows, key=lambda r: r["n_tokens"])
    assert hi["p_samp_e6"] <= hi["p_raw_e6"] + 1
    assert lo["p_samp_e6"] >= lo["p_raw_e6"] - 1
    # relative-gain monotonicity: w_i/t_i ordering is the reverse of t
    by_tokens = sorted(temp_rows, key=lambda r: r["n_tokens"])
    for a, b in zip(by_tokens, by_tokens[1:]):
        # a has fewer tokens: its weight-per-token must be >= b's
        assert (a["w_e6"] + 1) * b["n_tokens"] >= (b["w_e6"] - 1) * a["n_tokens"]


def test_temperature_preserves_language_order(temp_rows):
    # smoothing compresses but never reorders: sqrt is monotone
    by_raw = sorted(temp_rows, key=lambda r: (r["n_tokens"], r["lang"]))
    by_samp = sorted(by_raw, key=lambda r: r["w_e6"])
    assert [r["lang"] for r in by_raw] == [r["lang"] for r in by_samp]


def test_temperature_allocation_fits_budget(temp_rows):
    tot_tokens = sum(r["n_tokens"] for r in temp_rows)
    budget = tot_tokens // 2
    alloc = sum(r["alloc_tokens"] for r in temp_rows)
    # floor division loses at most 1 token per language
    assert budget - len(temp_rows) <= alloc <= budget


def test_temperature_upsamples_low_resource(temp_rows):
    # the lowest-resource language gains share, the highest loses it
    lo = min(temp_rows, key=lambda r: r["n_tokens"])
    hi = max(temp_rows, key=lambda r: r["n_tokens"])
    assert lo["p_samp_e6"] > lo["p_raw_e6"]
    assert hi["p_samp_e6"] < hi["p_raw_e6"]


# ---------------------------------------------------------------------------
# corpus_funnel_report
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def funnel_rows(spark):
    rows = QUERIES["corpus_funnel_report"](spark, SF).collect()
    return sorted(rows, key=lambda r: r["stage"])


def test_funnel_stages_chain(funnel_rows):
    # each stage's input is exactly the previous stage's survivors
    assert [r["stage"] for r in funnel_rows] == [1, 2, 3, 4]
    for prev, cur in zip(funnel_rows, funnel_rows[1:]):
        assert cur["n_in"] == prev["n_kept"]
    for r in funnel_rows:
        assert 0 <= r["n_kept"] <= r["n_in"]


def test_funnel_first_stage_sees_whole_corpus(spark, funnel_rows):
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert funnel_rows[0]["n_in"] == n_docs


def test_funnel_lang_gate_drops_exactly_zh(spark, funnel_rows):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_zh = docs.filter("lang = 'zh'").count()
    assert funnel_rows[0]["n_in"] - funnel_rows[0]["n_kept"] == n_zh


def test_funnel_dedup_stage_counts_duplicate_texts(spark, funnel_rows):
    # survivors of stages 1-3, grouped by text: the dedup stage keeps one
    # per distinct text, independently recomputed with plain DataFrame ops
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_words = F.size(F.split(F.col("text"), " "))
    mwl = F.length("text") - n_words + F.lit(1)
    surv = docs.filter(
        F.col("lang").isin("en", "de", "fr", "es")
        & (n_words >= 25)
        & (n_words <= 90)
        & (F.lit(4) * n_words <= mwl)
        & (mwl <= F.lit(5) * n_words)
    )
    # stage-4 keeps first-by-doc_id per md5(text) over the WHOLE corpus,
    # so a survivor can lose to a stage-3 casualty with the same text and
    # a smaller doc_id; recompute with the same global window
    from pyspark.sql import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    first = docs.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    kept = surv.join(first.select("doc_id"), "doc_id").count()
    assert funnel_rows[3]["n_kept"] == kept
    assert funnel_rows[3]["n_in"] == surv.count()


def test_weighted_sample_matches_python_replay(spark):
    """sample_weighted_per_group: the Efraimidis-Spirakis keys and the
    per-language top-3 replay exactly in Python from the same md5 uniforms."""
    import hashlib
    import math

    import duckdb

    from purldb_spark.plans.registry import QUERIES, load_inventory
    from tests.conftest import SF_SMOKE

    load_inventory()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT lang, doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    con.close()

    def key(doc_id, n_chars):
        h = int(hashlib.md5(f"wsamp|{doc_id}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        return math.floor(1e6 * math.log(u) / max(n_chars, 1))

    by_lang: dict[str, list] = {}
    for lang, doc_id, n_chars in rows:
        by_lang.setdefault(lang, []).append((key(doc_id, n_chars), doc_id, n_chars))
    want = {}
    for lang, items in by_lang.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rk, (k, doc_id, n_chars) in enumerate(items[:3], 1):
            want[(lang, rk)] = (doc_id, k)

    got = {
        (r["lang"], r["rk"]): (r["doc_id"], r["wkey"])
        for r in QUERIES["sample_weighted_per_group"](spark, SF_SMOKE).collect()
    }
    assert got == want
