"""Physical-plan + execution audit of the flagship queries -> PLANS.md.

Two kinds of evidence, clearly separated:
- STATIC plan facts (join strategies chosen, nested-loop check, parquet
  pushdown + column pruning) parsed from `.explain("formatted")`. Node
  counts in the static tree overstate work — DataFrame reuse prints a
  subtree per reference — so the table reports only strategy presence
  (any SMJ? any nested loop?) from it, never counts.
- DYNAMIC execution facts (jobs, stages — each shuffle boundary is a
  stage — and actual shuffle read/write bytes from the UI REST API),
  measured by running each query in its own job group. These are the
  numbers that scale: stages ~ shuffles actually executed after AQE stage
  reuse, shuffle MB is the data that really moved.

Regenerate after plan-affecting changes:  python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

AUDIT = [
    ("q1_pricing_summary", "TPC-H Q1: one scan, partial+final agg"),
    ("s2_point_lookup", "point lookup: filter reaches the scan"),
    ("j6_banding_join", "fingerprint banding join"),
    ("match_cascade_full", "full match cascade"),
    ("dedup_minhash_lsh", "MinHash LSH dedup"),
    ("dedup_ngram_jaccard_capped", "df-capped jaccard + size-bound prune"),
    ("dedup_embedding_blocked", "8x8 LSH blocking (log2(N) buckets)"),
    ("dedup_embedding_multiprobe", "multiprobe LSH embedding pairs"),
    ("x_d2d_request", "d2d intake: map-only projection"),
    ("kmeans_train", "Lloyd k-means: literal-centroid map + k*dim shuffle"),
    ("dedup_semantic", "SemDeDup: cell equi-join, centroid-priority keep"),
    ("knn_ivfpq", "IVFPQ: cell equi-join over 4-byte PQ codes, ADC rank"),
    ("text_boilerplate_scrub", "percentile-DF boilerplate scrub, map-heavy"),
    ("knn_trained_ivfpq_refine", "train -> cell+PQ index -> probe -> exact re-rank"),
    ("match_post_assign", "match-post assignment (r6 bench regression pin)"),
    ("snippet_match_pipeline", "snippet inverted-index match (r6 bench regression pin)"),
    ("x_debian_lslr_map", "debian ls-lR listing map (r6 bench regression pin)"),
    ("shuffle_global", "global shuffle rank (broadcast offsets)"),
    ("corpus_curate_pipeline", "end-to-end curation flagship"),
    ("t_tumbling_rollup_daily", "watermarked tumbling rollup (batch face)"),
    ("select_dsir", "DSIR: histogram to driver, literal-array map-only score"),
    ("text_repeated_span_scrub", "ExactSubstr scrub: dup-gram shuffle join"),
    ("dedup_simhash", "120-bit simhash_wide, 4x30-bit pigeonhole bands (r11)"),
    ("select_perplexity_buckets", "CCNet LM broadcast join + per-lang terciles"),
    ("select_quality_classifier", "hashed linear model, map-only fold"),
    ("j1_fk_join_bucketed", "storage-bucketed FK join: zero-Exchange SMJ"),
    ("bpe_train", "BPE trainer artifact: token-frequency view"),
    ("bpe_encode_stats", "corpus x vocab encode join"),
    ("pack_bpe_budget", "BPE-token packing: shard window cumsum"),
    ("dedup_bloom", "Bloom gate: <=m-row broadcast bit table"),
    ("select_domain_cap", "per-source rank cap + TakeOrdered budget"),
    ("text_chunk_overlap", "map-only overlap chunking"),
    ("x_bah128_dir_content", "BAH128 dir index read (materialized fixture)"),
    ("select_unimax_budget", "UniMax waterfilling on the language aggregate"),
    ("embed_random_projection", "JL Rademacher projection: HOF folds, codegen-safe"),
    ("embed_projected_blocked", "JL sign-bit bands + exact 64-d verify"),
    ("select_gopher_rules", "Gopher gate battery + repetition word groupBy"),
    ("j13_skew_salted_join", "salted hot-key fact-to-dim join"),
    ("mix_temperature_sampling", "sqrt-smoothed language mixture on the e6 grid"),
    ("corpus_funnel_report", "4-stage funnel: gate booleans + stack unpivot"),
    ("knn_hard_negatives", "trained-cell probe + near-dup exclusion + top-k"),
    ("knn_recall_eval", "recall@3 harness: GT scan + 2 IVF configs + mark join"),
    ("pq_train", "8 sub-quantizer fits + one-scan encode + code sizes"),
    ("knn_fully_trained_ivfpq", "trained cells + trained-PQ ADC (e6 grid) + exact refine"),
    ("knn_recall_fully_trained", "shipped-config recall: GT scan + mark join + 1-row agg"),
    ("ann_index_stats", "k-row cell agg + tiny-frame windows"),
    ("bpe_fertility_by_lang", "encode join + language agg"),
    ("dedup_recall_eval", "LSH-vs-exact-jaccard mark join + 1-row agg"),
    ("j14_asof_join", "as-of join: union+tag, one window per user, zero join"),
    ("j15_interval_bin_join", "interval join: bin-explode broadcast equi-join"),
    ("sketch_hll_distinct", "HLL registers (types x 64) + exact-distinct baseline"),
    ("sketch_cms_topk", "Count-Min d x w counters + exact top-k mark join"),
    ("sketch_histogram_quantiles", "cent histogram + cum walk + exact-rank baseline"),
    ("knn_residual_ivfpq", "IVFADC: residual-trained PQ, query-residual ADC + refine"),
    ("sketch_hll_merge_daily", "daily HLL shards MAX-merge == direct (engine-checked)"),
    ("sample_weighted_per_group", "ES weighted keys + per-group top-k window"),
    ("layout_zorder_skipping", "distributed exact-rank bucketing x3 + envelope agg"),
    ("sketch_kmv_intersect", "two-phase bottom-k + broadcast pair frame; exact baseline"),
    ("split_leakage_safe", "cluster-hash split + pair accounting over materialized state"),
    ("knn_recall_residual", "IVFADC recall vs shared exact-L2 GT fixture + mark join"),
    ("lsh_band_plan", "corpus-scaled width formula as data: 2 count aggs"),
    ("text_chunk_windows", "map-only explode(sequence) char windows"),
    ("chunk_shared_across_docs", "chunk fan-out + one md5 hash-groupBy"),
    ("embed_recall_blocked", "banding recall vs all-pairs GT + candidate efficiency"),
    ("sketch_histogram_merge", "daily bin shards SUM-merge == direct (engine-checked)"),
    ("classifier_train", "perceptron: 4 epochs x one map-side-combined agg"),
    ("cc_deferral_plan", "deferral dashboard: label/size SMJ + cap explode"),
    ("mm_bmp_roundtrip", "encode+decode BMP inside Arrow batches, map-only"),
    ("mm_png_roundtrip", "encode+decode PNG (zlib+unfilter), map-only"),
    ("mm_resize_roundtrip", "NN resample roundtrip, map-only"),
    ("mm_wav_windows", "frame-aligned window slice + per-window decode, map-only"),
    ("mm_embed_ann_search", "decode->features->grid cells->probe->L1 re-rank"),
    ("nb_train", "NB trainer: one (class x bucket) counting aggregation"),
    ("dedup_ngram_prefix", "prefix-filtered exact jaccard: rarest-first prefix postings"),
    ("dedup_plan_choice", "per-slice dedup-plan decision statistics + argmin as data"),
    ("dedup_dispatch_run", "dispatcher executing its per-slice choice, exact pairs"),
    ("nb_train_wide", "NB trainer at B=4096: same one counting aggregation"),
    ("classifier_agreement_eval", "3 trained/frozen gates fused in one corpus pass"),
    ("mm_jpeg_roundtrip", "encode+decode baseline JPEG (huffman+IDCT), map-only"),
    ("mm_pair_alignment_qa", "paired-data QA: corpus-scaled cell probe + L1 verdict"),
    ("kmeans_minibatch_merge", "e6 sufficient-stats shard merge proof, combine-bounded"),
    ("mm_mp4_meta", "ISO-BMFF encode+box-walk inside Arrow batches, map-only"),
    ("mm_mp4_frame_sample", "stss keyframe extraction off resolved sample tables, map-only"),
    ("mm_mp3_meta", "mp3 frame walk (ID3/resync/Xing) inside Arrow batches, map-only"),
    ("mm_shot_segmentation", "keyframe chain: ONE media window + shot rollup"),
    ("dedup_video_shots", "shot signature groupBy: exact-dedup shape over chains"),
    ("mm_clip_caption_pairs", "clip-caption pairs: two track extractions + media interval join"),
    ("shot_incremental_fold", "epoch-sliced sequential fold proof, frontier-joined"),
    ("mm_audio_segments", "VAD segmentation: window decode + lag/flag/cumsum chain"),
    ("mm_mp3_tags", "ID3v2.4 text-frame extraction, map-only"),
    ("mm_fmp4_fragments", "DASH/HLS fragment walk: trun-resolved extraction, map-only"),
    ("mm_png_adam7_roundtrip", "Adam7 PNG: 7-pass unfilter + lattice scatter, map-only"),
    ("mm_bmp16_roundtrip", "RGB555 decode with integer 5->8-bit scaling, map-only"),
    ("mm_bmp_rle_roundtrip", "BI_RLE8 decompression + palette expansion, map-only"),
    ("mm_wav24_float_roundtrip", "24-bit PCM sign-extension + float frames, map-only"),
    ("mm_png16_roundtrip", "depth-16 high-byte reduction + GA alpha exclusion, map-only"),
    ("mm_png_sub8_roundtrip", "packed sub-byte samples: bpp-1 filters + bit unpack, map-only"),
    ("mm_mp4_audio_meta", "mp4a AudioSampleEntry fields + resolved audio samples, map-only"),
]

def _existing_ledger() -> list[str]:
    """Preserve the hand-maintained per-round ledger sections from the
    CURRENT PLANS.md on regeneration (everything from the first
    '## Round-' header up to '## Scan evidence'). The pre-r14 tool
    embedded a frozen copy of the ledger text instead — regenerating
    after a new round's ledger entry would silently clobber it."""
    path = os.path.join(HERE, "PLANS.md")
    try:
        body = open(path).read().split("\n")
    except OSError:
        return []
    try:
        lo = next(
            i for i, ln in enumerate(body) if ln.startswith("## Round-")
        )
    except StopIteration:
        return []
    hi = next(
        (
            i
            for i in range(lo, len(body))
            if body[i].startswith("## Scan evidence")
        ),
        len(body),
    )
    out = body[lo:hi]
    while out and not out[-1]:
        out.pop()
    return out + [""]


def static_facts(df) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return {
        "has_smj": "SortMergeJoin" in plan,
        "has_bhj": "BroadcastHashJoin" in plan,
        "nested_loop": bool(
            re.search(r"NestedLoopJoin|CartesianProduct", plan)
        ),
        "pushed": sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))),
        "read_schemas": sorted(
            set(re.findall(r"ReadSchema: ([^\n]*)", plan))
        ),
    }


def shuffle_totals(spark) -> tuple[int, int]:
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = json.load(r)
        return (
            sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
        )
    except Exception:
        return (-1, -1)


def main() -> None:
    from purldb_spark.plans.registry import QUERIES, load_inventory
    from purldb_spark.session import get_spark

    spark = get_spark("plan_audit", extra_conf={"spark.ui.enabled": "true"})
    load_inventory()
    sc = spark.sparkContext

    # fixtures are pipeline-maintained state, not per-query work: prebuild
    # them OUTSIDE any job group so first-touch queries don't absorb the
    # build shuffle into their measured rows
    from purldb_spark.plans.fixture_warmup import prebuild_fixtures

    prebuild_fixtures(spark, SF)

    rows = []
    details = []
    for name, note in AUDIT:
        # snapshot + job group BEFORE building the DataFrame: operators with
        # convergence loops (connected components) run actions during
        # construction, and that work belongs to the query
        r0, w0 = shuffle_totals(spark)
        sc.setJobGroup(name, name)
        df = QUERIES[name](spark, SF)
        st = static_facts(df)
        df.count()
        sc.setJobGroup("", "")
        r1, w1 = shuffle_totals(spark)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info:
                stages.update(info.stageIds)
        joins = (
            ("BHJ" if st["has_bhj"] else "")
            + ("+SMJ" if st["has_smj"] else "")
        ).lstrip("+") or "none"
        # the UI store evicts old stages in long sessions; a negative
        # delta means the window rolled between snapshots — report
        # unmeasured rather than a bogus value (scale_probe's rule)
        rd = round((r1 - r0) / 1e6, 1) if r1 >= r0 >= 0 else "n/a"
        wr = round((w1 - w0) / 1e6, 1) if w1 >= w0 >= 0 else "n/a"
        rows.append(
            f"| {name} | {len(jobs)} | {len(stages)} |"
            f" {rd} / {wr} |"
            f" {joins} | {'YES' if st['nested_loop'] else 'no'} | {note} |"
        )
        if st["pushed"] or st["read_schemas"]:
            details.append(
                f"### {name}\n\n"
                + "".join(f"- PushedFilters: `[{p}]`\n" for p in st["pushed"] if p)
                + "".join(
                    f"- ReadSchema: `{s.strip()}`\n" for s in st["read_schemas"]
                )
            )

    lines = (
        [
            "# PLANS — plan + execution audit of the flagship queries",
            "",
            f"Generated by `tools/plan_audit.py` against `{SF}`. Jobs/stages/",
            "shuffle-MB are MEASURED (each shuffle boundary is a stage, after",
            "AQE stage reuse); join strategy and nested-loop presence come",
            "from the static plan; scan pushdown/pruning evidence below.",
            "",
            "| query | jobs | stages | shuffle R/W MB | joins | nested-loop | note |",
            "|---|---|---|---|---|---|---|",
        ]
        + rows
        + [
            "",
            "No registered query plans a nested-loop join or a cartesian",
            "product: even the exact all-pairs baselines run as blocked-grid",
            "equi-joins, and `tests/test_plan_shapes.py` fences every plan.",
            "",
        ]
        + _existing_ledger()
        + [
            "## Scan evidence (pushdown + pruning)",
            "",
        ]
        + details
    )
    with open(os.path.join(HERE, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
