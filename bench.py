"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly
ONE JSON line:

    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Timing methodology: one warm-up action first (pays Spark session + JIT
+ parquet footer costs once, like the reference's warm Postgres), then
each query is materialized fully via the noop data sink (executes the
whole plan, no driver-side collect bottleneck, no disk write skew).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the heaviest representative per operator family.
# Anything listed here but not (yet) registered is skipped, so bench
# stays runnable mid-build.
HEADLINE = [
    "a1_pricing_summary",
    "a1_daily_event_counts",
    "w1_weekly_rollup",
    "w2_anomaly_baselines",
    "w5_latest_per_key",
    "w8_activity_episodes",
    "t2_crisis_chain",
    "u4_anomaly_rules",
    "j1_star_join",
    "j4_entity_daily_metrics",
    "j9_asof_freshness",
    "a5_top_headlines",
    "a6_screen",
    "a7_sector_stats",
    "u3_evidence_union",
    "p2_override_daily",
    "d1_exact_dedup",
    "d2_minhash_pairs",
    "d3_ann_topk",
    "t_quality_score",
    "e1_trend_summary",
    "e2_crisis_durations",
    "a12b_storylines",
    "f1_llm_classify",
    "f3_hf_batch",
    "f4_sentiment",
    "e3_storylines",
    "e4_crisis_impact",
    "e5_evidence",
    "f2_feature_summary",
    "d8_ann_ivf",
    "d9_dedup_clusters",
    "e6_sector_baseline",
    "e7_narrative_timeline",
    "e8_crisis_patterns",
    "e9_negative_summary",
    "e10_processed_articles",
    "e11_industry_durations",
    "e12_narrative_tags",
    "e13_feature_series",
    "d10_corpus_curation",
    "d11_hash_sample",
    "d12_token_stream_pack",
    "d13_stratified_sample",
    "d14_ann_ivf_nprobe2",
    "d15_decontaminate",
    "d16_rerank",
    "e14_narrative_overlay",
    "e15_processed_serps",
    "m3_frame_resize",
    "t_repetition",
    "t_ngram_docfreq",
    "d17_pretrain_build",
    "t_pii_redact",
    "d18_temperature_mix",
    "d19_embedding_clusters",
    "d20_decontam_spans",
    "d21_token_budget_mix",
    "d22_epoch_shuffle",
    "t_keyword_topk",
    "d23_pq_codes",
    "d24_ann_ivfpq",
    "d25_ann_recall",
    "d25b_ann_recall_trained",
    "d26_kmv_distinct",
    "d27_incremental_neardup",
    "d28_chunk_overlap",
    "d29_split_assign",
    "d30_span_dedup",
    "d31_split_leakage",
    "d32_rag_context",
    "d33_dataset_card",
    "d34_bpe_merges",
    "d35_oov_rate",
    "d36_hard_negatives",
    "d37_minhash_calibration",
    "d38_quantile_sketch",
    "d39_split_gram_overlap",
    "d40_vocab_growth",
    "d41_cross_source_dups",
    "d43_lm_quality_buckets",
    "d44_semantic_prune",
    "t_readability",
    "d45_dup_weighted_sample",
    "d46_sentence_dedup",
    "d47_semantic_decontam",
    "d48_retention_curve",
    "d49_kmeans_codebook",
    "t_ttr",
    "t_tfidf",
    "m4_payload_dedup",
    "d50_dup_centrality",
    "d51_curation_funnel",
    "d52_cluster_size_hist",
    "t_zipf_profile",
    "d54_anneal_mix",
    "m5_frame_dedup",
    "d55_packing_efficiency",
    "d56_quality_dup_cross",
    "t_code_detect",
    "t_html_strip",
    "d57_span_strip",
    "d58_source_quota_rebalance",
    "t_simpson",
    "d59_cluster_drift",
    "t_burstiness",
    "d60_dsir_select",
    "d61_centroid_outliers",
    "t_novelty",
    "d62_quantization_error",
    "m6_modality_mix",
    "d63_budget_threshold",
    "o8_keyset_pagination",
    "w12_session_windows",
    "d64_doremi_mix",
    "d65_cluster_purity",
    "d66_nprobe_sweep",
    "w13_surge_shipments",
    "m7_shard_pack",
    "t_k_anonymity",
    "d67_filter_agreement",
    "s_table_profile",
    "w14_ohlc_resample",
    "d68_lsh_design",
    "a17_rollup_totals",
    "u5_segment_set_ops",
    "a18_pivot_matrix",
    "j12_purchase_attribution",
    "j12b_attribution_skew",
    "s_table_profile_approx",
    "d69_ivf_design",
    "a19_grouping_sets",
    "o9_diversified_topk",
    "w15_funnel_steps",
    "w16_retention_cohorts",
    "s3_props_json",
    "t_fertility",
    "d70_length_bucket_batches",
    "d71_eval_diversity_sample",
    "d72_bloom_decontam",
    "s5_props_variant",
    "d73_hot_key_audit",
    "w17_trailing_distinct",
    "m8_payload_byte_stats",
    "d74_source_drift",
    "d44b_semantic_prune_capped",
    "e16_stock_series",
    "e17_trends_series",
    "e18_roster",
    "e19_boards",
    "s6_control_slug_publisher",
    "w18_anomaly_days",
]

# timed runs per query (after one warm-up); the reported number is the
# median, so GC pauses / JIT blips can't fake a regression.
N_RUNS = 5

# Host-noise calibration (VERDICT r5 #2): budgets kept getting widened
# whenever a slow host tripped them, which erodes the guard. Instead,
# fixed-work calibration probes are timed in the same process; each
# query's median is divided by how much slower than the reference the
# host ran before the budget comparison. Raw seconds still go in
# "queries" (the cross-round artifact); only the guard is normalized.
# The MIN of the timed runs is used — it is the cleanest estimator of
# sustained host speed (~3% spread across batches vs ~8% for the
# median; a shuffle-based probe was 20%+, BENCH_NOTES r6). Scales
# never drop below 1.0 — a fast host must not tighten the pins.
#
# TWO probes (VERDICT r6 #2 / ADVICE r6): the original 16B-element
# codegen sum is pure CPU and blind to memory-bandwidth/disk
# contention (commit 8600f1c), so a memory-hungry co-tenant could slow
# the scan-bound queries (a1, j1, u3, e9) while the CPU probe read
# ~1.0 and the guard under-corrected. The second probe is a fixed-byte
# wide-row parquet scan (8 long columns, written once under
# .benchprobe/ and page-cache-warm after its warm-up run), timing the
# scan→decode→sum path that dominates those queries. The guard
# normalizes every query by max(cpu_scale, scan_scale) — the
# conservative choice: either kind of host slowness widens, never
# tightens, the effective budget.
#
# Estimators differ BY DESIGN: the CPU probe takes its MIN (host
# speed — GC/JIT blips must not fake slowness), but the scan probe
# takes its MEDIAN, matching the per-query estimator: under
# fluctuating I/O contention the min stays near calm speed while
# every query median inflates, so a min-based scan scale
# under-corrects exactly when it matters (measured r7: scan min 1.05
# with 3.4 s spread while five borderline budgets tripped; the median
# tracked the contention and cleared them — BENCH_NOTES).
CALIB_REF_SEC = 0.90  # CPU probe min on the round-6 build box (BENCH_NOTES)
CALIB_SCAN_REF_SEC = 1.05  # scan probe calm-box median, round 7 (BENCH_NOTES)

SCAN_PROBE_ROWS = 60_000_000  # x 8 long cols: fixed decode+sum work, ~1 s


def _scan_probe_path(spark) -> str:
    """Write-once fixed-content parquet for the scan probe. Content is
    deterministic (range-derived), so any box generates identical work."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".benchprobe", "scan_v1"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark.range(0, SCAN_PROBE_ROWS, 1, 32).selectExpr(
            "id as c0", *[f"id * {2 * i + 1} as c{i}" for i in range(1, 8)]
        ).write.mode("overwrite").parquet(path)
    return path


def _probe_times(run) -> list[float]:
    times = []
    for _ in range(N_RUNS + 1):  # first is warm-up
        t0 = time.perf_counter()
        run()
        times.append(time.perf_counter() - t0)
    return sorted(times[1:])


def _scan_probe_once(spark, scan_path: str) -> float:
    """One timed run of THE scan probe — the same expression the
    start-of-run calibration medians over, shared so the start and
    mid-run guards can never desynchronize (code-review r12 #6)."""
    t0 = time.perf_counter()
    spark.read.parquet(scan_path).selectExpr(
        "sum(c0+c1+c2+c3+c4+c5+c6+c7)"
    ).collect()
    return time.perf_counter() - t0


def _calibrate(spark) -> dict:
    cpu = _probe_times(
        lambda: spark.range(0, 16_000_000_000, 1, 32)
        .selectExpr("sum(id % 7)")
        .collect()
    )
    scan_path = _scan_probe_path(spark)
    scan = _probe_times(lambda: _scan_probe_once(spark, scan_path))
    cpu_scale = max(1.0, cpu[0] / CALIB_REF_SEC)
    scan_med = scan[len(scan) // 2]
    scan_scale = max(1.0, scan_med / CALIB_SCAN_REF_SEC)
    return {
        "sec": round(cpu[0], 3),
        "ref": CALIB_REF_SEC,
        "scale": round(cpu_scale, 3),
        "spread": round(cpu[-1] - cpu[0], 3),
        "scan_sec": round(scan_med, 3),
        "scan_ref": CALIB_SCAN_REF_SEC,
        "scan_scale": round(scan_scale, 3),
        "scan_spread": round(scan[-1] - scan[0], 3),
        "guard_scale": round(max(cpu_scale, scan_scale), 3),
    }


# Regression guard (sf0.1 medians, noise-normalized): queries that
# have drifted across rounds or sit near the ~1 s working budget are
# pinned; a breach shows up in the JSON's "over_budget" field so drift
# is loud in the bench artifact itself, not just in a side-by-side of
# old files. Tight r4 values restored now that the guard is
# calibration-normalized instead of pin-widened (VERDICT r5 #2).
BUDGET = {
    "u3_evidence_union": 1.0,   # r6: pre-union evidence stored via the MV seam
    "e7_narrative_timeline": 0.40,  # VERDICT r4 #4 value, restored r6
    "d8_ann_ivf": 1.3,          # VERDICT r3 #4: assignment now a stored MV
    "e6_sector_baseline": 1.0,  # VERDICT r3 #2: durable MV, no cold plan
    "e3_storylines": 1.3,
    "d1_exact_dedup": 1.0,
    "d3_ann_topk": 0.7,         # r8: Arrow kernel rewrite, 0.39-0.47 measured
                                # (was 1.0 for the declarative fold)
    "a1_pricing_summary": 0.7,  # VERDICT r4 #2 ask, restored r6
    "d15_decontaminate": 1.0,   # r5: gram relation stored via the MV seam
    "d16_rerank": 1.4,          # r5: inherits d8's pipeline (pinned 1.3) + rerank
    "j1_star_join": 1.0,        # r6: drift guard (VERDICT r5 #4)
    "j4_entity_daily_metrics": 1.0,  # r6: drift guard (VERDICT r5 #4)
    "t_repetition": 0.9,        # r6: O(len) sorted-run mode, bound split
    "t_ngram_docfreq": 1.1,     # r6: gram relation stored via the MV seam
    "d17_pretrain_build": 1.3,  # r6: 4-stage composed build, 1.04 measured
    "t_pii_redact": 0.9,        # r7: per-row regex scan, 0.62 measured
    "d18_temperature_mix": 1.0,  # r7: rank window + quota broadcast, 0.68 measured
    "d19_embedding_clusters": 0.35,  # r7: stored cluster MV scan, 0.07 measured
    "d20_decontam_spans": 0.95,  # r7: gram MV probe + doc agg, 0.66 measured
    # r8 queries, pinned at 1.4x the worst measured median this round
    # (same recipe as BUDGET_GENERATED), rounded up to 0.05, floor 0.35:
    "d21_token_budget_mix": 0.7,   # 0.49 measured
    "d22_epoch_shuffle": 0.45,     # 0.32 measured
    "t_keyword_topk": 0.55,        # 0.38 measured
    "d23_pq_codes": 0.35,          # 0.16-0.20 measured (stored-MV scan)
    "d24_ann_ivfpq": 1.85,         # 1.03-1.30 measured; plan-depth (~5
                                   # broadcast joins) jitter, not data
    "d26_kmv_distinct": 0.55,      # 0.39 measured
    "d27_incremental_neardup": 0.6,  # 0.43 measured (stored-sig MV join)
    "d28_chunk_overlap": 0.7,      # 0.49 measured (shuffle-free generate)
    "d29_split_assign": 0.65,      # 0.44 measured (broadcast cluster map)
    "d30_span_dedup": 1.2,         # r9: gram relation moved behind the
                                   # d30_grams MV (VERDICT r8 #3) —
                                   # 0.80-0.85 measured store-warm (was
                                   # 1.58-1.82 recomputing the tokenize)
    "d31_split_leakage": 1.3,      # 0.93 measured (d2 pair MVs + 2
                                   # assignment joins + 1 agg)
    "d32_rag_context": 0.9,        # 0.64 measured (shuffle-free chunk
                                   # scoring + TakeOrdered top-5)
    "d33_dataset_card": 0.8,       # 0.56 measured (one scan, two
                                   # broadcasts, one (split,lang) agg)
    "d34_bpe_merges": 0.35,        # 0.23 measured (bounded char-pair domain)
    "d35_oov_rate": 0.7,           # 0.50 measured (2 corpus scans, per-row
                                   # probe vs broadcast 64-word vocab)
    "d36_hard_negatives": 1.0,     # r9 re-pin (was 0.9): the bounded
                                   # md5-rank probe selection adds a small
                                   # TakeOrdered pass; 0.61-0.72 measured
                                   # clean, 1.4x recipe on the worst median
    "d37_minhash_calibration": 1.3,  # 0.91 measured (d2's banded candidate
                                   # join off the stored sig MVs + 11-row agg)
    "d38_quantile_sketch": 0.55,   # 0.38 measured (value-domain agg + one
                                   # dictionary-sized lang exchange)
    "d39_split_gram_overlap": 1.95,  # 1.38 measured; d30's class: the
                                   # gram-grain agg over ~250k grams is
                                   # stage-latency-bound at sf0.1,
                                   # gram-volume-linear (~8-9x) at 100x
    "d40_vocab_growth": 1.15,      # 0.81 measured (word-grain min-wave
                                   # agg + 10-row tail)
    "d41_cross_source_dups": 0.9,  # 0.64 measured (broadcast cluster MV
                                   # + members-sized pair matrix)
    "d43_lm_quality_buckets": 1.0,  # 0.31-0.71 measured (stored score MV
                                   # + value-domain CDF)
    "d44_semantic_prune": 1.7,     # 0.91-1.21 measured (cell-local
                                   # pairwise on the stored IVF assignment)
    "t_readability": 0.35,         # 0.17-0.24 measured (per-row exprs)
    "d45_dup_weighted_sample": 0.35,  # 0.19-0.25 measured (broadcast
                                   # cluster sizes + one agg)
    "d46_sentence_dedup": 1.35,    # 0.47-0.96 measured (one sentence-keyed
                                   # exchange + doc agg; 4.65x at 100x,
                                   # 4.40x on the zipf replica)
    "d47_semantic_decontam": 1.2,  # 0.65-0.85 measured (broadcast eval set
                                   # over the stored IVF assignment; flat
                                   # at 100x — embeddings replicate 1:1)
    "d48_retention_curve": 1.6,    # 0.92-1.15 measured (one combinable agg
                                   # over the d2 pair relation; 2.54x on the
                                   # salted control, 63.7x adversarial =
                                   # the pair relation itself)
    "d49_kmeans_codebook": 1.7,    # r9: gen1 moved behind the d49_codebook
                                   # MV (VERDICT r8 #4) — the query is one
                                   # assignment pass + count + digest join,
                                   # exch 8 -> 2, 1.17-1.32 measured warm
                                   # (was 2.34-2.53 retraining inline)
    "t_ttr": 1.2,                  # 0.84 measured (scan-rate per-row array
                                   # exprs; 6.79x at 100x = sub-linear)
    "t_tfidf": 1.2,                # 0.80 measured (stored t_word_tf MV +
                                   # vocab-sized docfreq agg + rank-limited
                                   # window; 3.32x at 100x)
    "m4_payload_dedup": 0.7,       # 0.42-0.55 measured (one hash-agg over
                                   # a narrow projection; 1.31x at 100x)
    "d50_dup_centrality": 2.2,     # 1.33-1.60 measured (checkpointed edge
                                   # table + 2 PR rounds; 2.64x on the
                                   # salted control, 91x adversarial =
                                   # the dup graph itself)
    "d51_curation_funnel": 1.8,    # 1.22 measured (one scan + 4-stage
                                   # conditional agg over d17's exprs;
                                   # 3.24x MV-warm at 100x)
    "d52_cluster_size_hist": 0.5,  # 0.26-0.30 measured (histogram agg
                                   # over the stored d9 MV; flat at 100x
                                   # MV-warm)
    # r9 queries, pinned at 1.4x the worst measured median (same recipe):
    "t_zipf_profile": 0.85,        # 0.58 measured (t_word_tf MV +
                                   # vocab agg + WindowGroupLimit rank)
    "d54_anneal_mix": 1.0,         # 0.75 measured (d43 score MV +
                                   # value-domain CDF + 2 tiny aggs)
    "m5_frame_dedup": 0.9,         # 0.63 measured (frame generate +
                                   # one fingerprint-keyed agg, d30 shape)
    "d55_packing_efficiency": 0.7,  # 0.48 measured (one scan, explode x4,
                                   # one combinable agg to 4 rows)
    "d56_quality_dup_cross": 0.85,  # 0.58 measured (per-row quality expr +
                                   # broadcast d9 MV + one tiny agg)
    "t_code_detect": 0.6,          # 0.40 measured (zero-exchange per-row
                                   # regex scan)
    "t_html_strip": 0.8,           # 0.55 measured (zero-exchange chain of
                                   # per-row regexp_replace)
    "d57_span_strip": 1.9,         # 1.13-1.38 measured (d30's gram agg +
                                   # per-row text rebuild: emits the full
                                   # cleaned corpus, string-volume-bound)
    "d58_source_quota_rebalance": 1.8,  # 1.03-1.37 measured (two corpus
                                   # passes by construction: quota
                                   # derivation + coin execution)
    "t_simpson": 0.6,              # 0.40 measured (per-row sorted run fold)
    "d59_cluster_drift": 1.4,      # 0.87-1.06 measured (cluster-local
                                   # pairwise exact Jaccard over two
                                   # stored MVs, size-capped)
    "d13_stratified_sample": 0.6,  # r8 re-pin (was generated 0.35 for the
                                   # single-window plan): the two-phase
                                   # de-skewed rank adds two tiny
                                   # bucket-frame exchanges — ~70 ms at
                                   # sf0.1 (0.41 measured), bought the
                                   # removal of the dominant-language
                                   # single-task sort (zipf 1.75x -> 0.77x)
}

# Full-coverage pins (r6): every remaining headline query, generated as
# 1.4x the worst calibration-NORMALIZED median across three round-6
# bench runs (one idle, two deliberately host-contended — the guard
# held through a 1.5x-slow box), rounded up to 0.05, floored at 0.35.
# Explicit BUDGET entries above take precedence. Regenerate with the
# recipe in BENCH_NOTES.md if plans change legitimately.
BUDGET_GENERATED = {
    "a12b_storylines": 0.85,
    "a1_daily_event_counts": 0.9,
    "a5_top_headlines": 0.6,
    "a6_screen": 0.35,
    "a7_sector_stats": 0.75,
    "d10_corpus_curation": 0.65,
    "d11_hash_sample": 0.35,
    "d12_token_stream_pack": 0.4,
    "d13_stratified_sample": 0.35,
    "d14_ann_ivf_nprobe2": 1.05,
    "d2_minhash_pairs": 0.75,
    "d9_dedup_clusters": 0.35,
    "e10_processed_articles": 0.65,
    "e11_industry_durations": 0.45,
    "e12_narrative_tags": 0.5,
    "e13_feature_series": 0.85,
    "e14_narrative_overlay": 0.65,
    "e15_processed_serps": 0.5,
    "e1_trend_summary": 0.35,
    "e2_crisis_durations": 0.5,
    "e4_crisis_impact": 0.5,
    "e5_evidence": 1.1,
    "e8_crisis_patterns": 0.55,
    "e9_negative_summary": 1.0,
    "f1_llm_classify": 0.4,
    "f2_feature_summary": 0.35,
    "f3_hf_batch": 0.4,
    "f4_sentiment": 0.5,
    "j9_asof_freshness": 0.8,
    "m3_frame_resize": 0.35,
    "p2_override_daily": 0.85,
    "t2_crisis_chain": 0.5,
    "t_quality_score": 0.4,
    "u4_anomaly_rules": 0.65,
    "w1_weekly_rollup": 0.9,
    "w2_anomaly_baselines": 0.5,
    "w5_latest_per_key": 0.7,
    "w8_activity_episodes": 0.45,
}
# ----------------------------------------------------------------
# r10 pin regeneration (VERDICT r9 #2): the r8/r9 entries above had
# drifted to 1.7-4.0x headroom over measured calm-box medians — wide
# enough for a genuine 2x regression to pass silently. Every pin that
# was above the 1 s working line (plus the newly bench-guarded
# d25/d25b, VERDICT r9 #3, and the r10-rewritten trained-ANN family)
# is regenerated with the uniform recipe (one contention term folded
# in per VERDICT r10 #4, replacing the two r10 per-query exceptions):
#
#   pin = roundup05(max(1.5 x calm-box normalized median,
#                       1.1 x worst OBSERVED contended-window gating
#                             observation)),
#   floor 0.35
#
# The contention term exists only for queries where a contended window
# has actually been measured and recorded in BENCH_NOTES (currently e5
# low2 0.99 and a12b median 0.90, both r10 run c); for everything else
# the calm median governs, so the recipe is uniform and no pin is an
# exception. Entries here override the per-round values above; the old
# values stay in place as history.
BUDGET_R10 = {
    "d8_ann_ivf": 0.7,        # 0.45 measured (trained index MV +
                              # broadcast 40-probe set; was SMJ+BNLJ)
    "d14_ann_ivf_nprobe2": 1.2,   # 0.78 measured
    "d16_rerank": 0.8,        # 0.51 measured (inherits trained d8)
    "d17_pretrain_build": 1.0,    # 0.66 measured
    "d23_pq_codes": 0.35,     # 0.20 measured (trained index MV scan)
    "d24_ann_ivfpq": 1.2,     # 0.78 measured
    "d25_ann_recall": 1.9,    # 1.26 measured. Audit class: recall
                              # measurement composes BOTH parent
                              # searches (d24 IVF-PQ + d8 exact-in-cell)
                              # per probe by definition; its
                              # single-pipeline twin d25b is the
                              # standing plan-shape A/B (BENCH_NOTES
                              # r9/r10) — the compose overhead is the
                              # measured delta, not waste
    "d25b_ann_recall_trained": 1.65,  # 1.10 measured (single-pipeline twin)
    "d30_span_dedup": 1.0,    # 0.65 measured
    "d31_split_leakage": 1.2,     # 0.77 measured
    "d37_minhash_calibration": 0.75,  # 0.48 measured
    "d39_split_gram_overlap": 1.65,   # 1.07 measured. Audit class:
                              # gram-grain agg is stage-latency-bound
                              # at sf0.1 and gram-volume-linear at
                              # scale; the MV-read alternative was
                              # A/B-measured and REJECTED — reading
                              # d30_grams costs the same gram-grain
                              # exchange without saving the agg
                              # (BENCH_NOTES r9)
    "d40_vocab_growth": 0.6,  # 0.39 measured
    "d44_semantic_prune": 1.6,    # 1.06 measured. Audit class:
                              # cell-local pairwise BY CONSTRUCTION on
                              # the stored IVF assignment — the
                              # pairwise work is the operator's output,
                              # bounded by cell occupancy, 0.92x at
                              # 100x vectors (BENCH_NOTES r10)
    "d46_sentence_dedup": 0.95,   # 0.61 measured
    "d47_semantic_decontam": 0.6,     # 0.40 measured
    "d48_retention_curve": 1.2,   # 0.80 measured
    "d49_kmeans_codebook": 1.75,  # 1.16 measured
    "d50_dup_centrality": 0.6,   # r11: round-1 rank + edge table moved
                              # behind the dup_edges/d50_rank1 MVs
                              # (VERDICT r10 #2, the d30/d49 precedent)
                              # — live plan is two MV scans + ONE
                              # PageRank round; 0.38 measured warm
                              # (was 1.06 paying both rounds +
                              # checkpoint live)
    "d51_curation_funnel": 1.0,   # 0.65 measured
    "d57_span_strip": 1.15,   # 0.76 measured
    "d58_source_quota_rebalance": 0.65,  # 0.42 measured
    "d59_cluster_drift": 0.85,    # 0.53 measured (incl. the r10
                              # over-cap disclosure branch)
    "e3_storylines": 0.75,    # 0.47 measured
    "t_ngram_docfreq": 1.1,   # 0.71 measured
    "t_tfidf": 0.75,          # 0.47 measured
    "t_ttr": 1.1,             # 0.70 measured
    # r10 additions, same recipe off their bench-harness medians (the
    # scalecheck arrival numbers ran hotter; the guard's own harness
    # governs — re-pinned same round to keep headroom uniform):
    "t_burstiness": 0.7,      # 0.47 measured (planted md5-per-token
                              # schedule; plant=False is plain scan-rate)
    "d60_dsir_select": 1.05,  # 0.70 measured (corpus bigram fold vs
                              # broadcast target LM + base-MV join)
    "d61_centroid_outliers": 0.7,  # 0.46 measured in-harness (1.0
                              # standalone cold-session — the harness
                              # governs, same re-pin rule as d60)
    # r11 additions, pinned off their first in-harness calm run
    # (guard 1.041: medians 0.71 / 0.60 / 0.28 -> normalized
    # 0.68 / 0.58 / 0.27; the standalone-session probes read
    # 0.93 / 0.87 / 0.33 — the harness governs, the d60/d61 rule):
    "t_novelty": 1.05,        # gram-grain inverted-index profile,
                              # t_ngram_docfreq's class (shares the
                              # t_tri_grams MV + one gram exchange)
    "d62_quantization_error": 0.9,  # d61's topology (stored index MV +
                              # broadcast codebook + one cell agg)
    "m6_modality_mix": 0.45,  # one narrow metadata scan + tiny agg
    "d63_budget_threshold": 0.35,  # recipe floor: 0.202 in-harness
                              # median (run d — and that run was
                              # globally contended, so 0.20 is an
                              # upper bound on calm; 1.5x -> 0.30,
                              # floored at 0.35). The corpus pass
                              # lives in the d43 score MV; the query
                              # touches only (lang, score)-domain rows
    "o8_keyset_pagination": 0.4,  # 0.32 in-harness median, normalized
                              # 0.26 (run e, guard 1.234) -> 1.5x =
                              # 0.39 -> 0.40 (cursor TakeOrdered(100) +
                              # 1-row anchor scan + TakeOrdered(50);
                              # the 0.57 standalone probe was the usual
                              # cold-session overhead — harness governs)
    "w12_session_windows": 0.65,  # 0.458 in-harness median, normalized
                              # 0.41 (run f, guard 1.114) -> 1.5x =
                              # 0.62 -> 0.65 (native session_window
                              # agg: one user-keyed exchange)
    "a12b_storylines": 1.0,   # recipe contention term: 0.51 calm
                              # median (1.5x -> 0.77) vs contended
                              # median 0.90 (1.1x -> 0.99 -> 1.0,
                              # BENCH_NOTES r10 run c) — max governs
    # r11 late additions, uniform recipe off the calm in-harness run
    # (guard 1.137: medians 0.32 / 0.285 / 0.88 / 0.478 -> normalized
    # 0.281 / 0.251 / 0.774 / 0.420; over_budget EMPTY that run):
    "d64_doremi_mix": 0.45,   # MV + doc-grain source join; the
                              # reweighting itself is source-domain
    "d65_cluster_purity": 0.4,    # one index-MV scan + cell agg
    "d66_nprobe_sweep": 1.2,  # Audit class: exact recall measurement
                              # at three operating points — the d25
                              # family's measure-the-index cost; both
                              # scoring legs through the d3 kernel
    "w13_surge_shipments": 0.65,  # two day-grain pre-agg scans
    "m7_shard_pack": 0.35,    # recipe floor: 0.155 in-harness median
                              # (guard 1.219 -> normalized 0.127)
    "t_k_anonymity": 0.35,    # recipe floor: 0.171 in-harness median
                              # (normalized 0.140; metadata-scan class)
    "d67_filter_agreement": 0.55,  # 0.423 in-harness median (guard
                              # 1.182 -> normalized 0.358; composes
                              # t_quality_score + the d43 score MV)
    "s_table_profile": 0.95,  # 0.82 in-harness median (guard 1.319 ->
                              # normalized 0.62; the multi-distinct
                              # Expand is the whole cost — build-class;
                              # r12: the KMV swap is now CODE,
                              # s_table_profile_approx)
    "w14_ohlc_resample": 0.6,  # 0.468 in-harness median (guard 1.274
                              # -> normalized 0.37; one map-side agg)
    "d68_lsh_design": 0.35,   # recipe floor: 0.068 in-harness — 64
                              # parameter rows, reads no table
    "a17_rollup_totals": 0.35,    # floor: 0.289 in-harness (guard
                              # 1.365 -> normalized 0.212)
    "u5_segment_set_ops": 0.35,   # floor: 0.291 (normalized 0.213)
    "a18_pivot_matrix": 0.35,     # floor: 0.307 (normalized 0.225)
    "j12_purchase_attribution": 0.35,  # floor: 0.297 in-harness
                              # (guard 1.296 -> normalized 0.229)
    "e5_evidence": 1.1,       # recipe contention term: 0.58-0.66 calm
                              # medians (1.5x -> 0.99) vs contended
                              # gating low2 0.99 (1.1x -> 1.09 -> 1.1,
                              # BENCH_NOTES r10 run c: median hit 1.32
                              # while the start-of-run calibration
                              # probes read calm) — max governs
}
# ----------------------------------------------------------------
# r12 pins: the six new queries + the two whose plans changed this
# round (d39's gram key moved to xxhash64-of-array; j12 gained the
# eager skew-guard agg). Uniform recipe, from this round's clean
# in-harness run (guard-normalized medians in the comments).
BUDGET_R12 = {
    "j12b_attribution_skew": 0.35,   # floor: 0.179 in-harness median
                              # (guard 1.277 -> normalized 0.140)
    "s_table_profile_approx": 1.6,  # 1.325 in-harness median (guard
                              # 1.277 -> normalized 1.038, 1.5x ->
                              # 1.557 -> 1.6; the stack->string +
                              # md5 + distinct exchange is the cost —
                              # see the A/B block in
                              # plans/sources_q.py)
    "d69_ivf_design": 0.35,   # floor: 0.233 in-harness median
                              # (normalized 0.182 — 8 parameter rows
                              # + a metadata COUNT)
    "a19_grouping_sets": 0.35,  # floor: 0.279 in-harness median
                              # (normalized 0.218; a17's Expand class)
    "o9_diversified_topk": 0.35,  # floor: 0.337 in-harness median
                              # (normalized 0.264; WindowGroupLimit +
                              # TakeOrdered)
    "w15_funnel_steps": 0.35,  # floor: 0.318 in-harness median
                              # (normalized 0.249; one user-keyed
                              # exchange + JVM fold)
    "d39_split_gram_overlap": 1.3,  # two clean-run in-harness medians
                              # 0.857 (guard 1.277 -> 0.671) and
                              # 1.023 (guard 1.181 -> 0.866) after the
                              # r12 xxhash64-of-array gram key (md5
                              # A/B: 1.23 -> 0.93 calm medians); pin =
                              # 1.5x the WORST calm reading (0.866 ->
                              # 1.299 -> 1.3). The calm normalized
                              # median is UNDER the 1 s working line
                              # for the first time; only the 1.5x pin
                              # remains above it
    "j12_purchase_attribution": 0.55,  # 0.435 in-harness median
                              # (normalized 0.341, 1.5x -> 0.511 ->
                              # 0.55) WITH the r12 skew guard's extra
                              # eager agg
    "w16_retention_cohorts": 0.5,  # 0.417 in-harness median on a
                              # CONTENDED run (guard 1.32 ->
                              # normalized 0.316, 1.5x -> 0.474 ->
                              # 0.5); calm reads lower
    "s3_props_json": 0.5,  # 0.437 in-harness median, same run
                              # (normalized 0.331, 1.5x -> 0.497 ->
                              # 0.5; JSON-parse scan-rate class)
}
# ----------------------------------------------------------------
# r13 pins: the seven new queries, uniform recipe (1.5x the worst
# in-harness guard-normalized median across the round's two full
# runs — one calm-gating, one all-windows-contended — floor 0.35,
# roundup 0.05). Normalized medians in comments are from the
# contended run (the higher of the two, so the pins lean wide).
BUDGET_R13 = {
    "t_fertility": 0.4,        # 0.254 normalized (1.5x -> 0.38 -> 0.4)
    "d70_length_bucket_batches": 0.35,  # floor: 0.222 normalized
    "d71_eval_diversity_sample": 2.0,   # 1.325 normalized (1.5x ->
                              # 1.99 -> 2.0; the 8 per-token sign
                              # folds over distinct tokens — d6's
                              # simhash family, already one-md5
                              # -per-token optimized: 1.88 -> 1.33
                              # calm solo A/B this round)
    "d72_bloom_decontam": 1.2,  # 0.792 normalized (1.5x -> 1.19 ->
                              # 1.2; d15's gram-grain class + the
                              # positions build — join-form probe
                              # after the 18.5 -> 1.4 s A/B trail)
    "s5_props_variant": 1.1,   # 0.724 normalized (1.5x -> 1.086 ->
                              # 1.1; builds AND parses a JSON payload
                              # per event row — s3's scan-rate class
                              # doubled by the in-query construction)
    "d73_hot_key_audit": 0.35,  # floor: 0.232 normalized
    "w17_trailing_distinct": 0.7,  # 0.438 normalized (1.5x -> 0.66
                              # -> 0.7; one corpus distinct + x7
                              # explode + one multi-distinct agg)
    "m8_payload_byte_stats": 2.65,  # r14 re-derivation (VERDICT r13
                              # #4): 1.743 normalized median on run C
                              # — the round's zero-contended-window
                              # in-harness record (guard 1.276) —
                              # 1.5x -> 2.61 -> 2.65, the uniform
                              # recipe with no solo-basis exception
                              # (the other two same-day in-harness
                              # runs read 1.61 / 1.98 normalized;
                              # byte-grain per-row arrays,
                              # t_repetition's class)
    "d74_source_drift": 0.55,  # r14 re-derivation (VERDICT r13 #4):
                              # 0.342 normalized median on run C
                              # (1.5x -> 0.51 -> 0.55) — the r13 pin
                              # rested on a 1.07 s post-run-D SOLO
                              # median; in-harness the refresh pass
                              # has warmed the MV store, which is the
                              # protocol every other pin uses, so the
                              # pin drops below the working line and
                              # LEAVES the over-line registry
}
# ----------------------------------------------------------------
# r14 pins: the five new queries, uniform recipe (1.5x the
# guard-normalized median from run C — the round's calm-gating
# in-harness record, guard 1.276, contended windows ZERO — floor
# 0.35, roundup 0.05).
BUDGET_R14 = {
    "d44b_semantic_prune_capped": 1.05,  # 0.676 normalized (1.5x ->
                              # 1.01 -> 1.05; banded cell-local
                              # pairwise over the stored assignment —
                              # d44's class with CAP-bounded work)
    "e16_stock_series": 0.75,  # 0.494 normalized (1.5x -> 0.74 ->
                              # 0.75; one scoped daily-price agg +
                              # bounded per-entity collect_list)
    "e17_trends_series": 0.9,  # 0.586 normalized (1.5x -> 0.88 ->
                              # 0.9; e16's shape over events)
    "e18_roster": 0.4,         # 0.252 normalized (1.5x -> 0.38 -> 0.4)
    "e19_boards": 0.35,        # floor: 0.179 normalized
    "s6_control_slug_publisher": 0.9,  # 0.592 normalized in-harness
                              # median (run D, the round's wide run;
                              # 1.5x -> 0.89 -> 0.9). Fact scan +
                              # broadcast join against the stored
                              # 10-row classified dim — the per-row
                              # classify form measured 8.5 s at sf0.1
                              # and was replaced same-round (addendum
                              # 7); the JSON k-extract scan dominates
    "w18_anomaly_days": 0.35,  # floor: 0.232 normalized (closing run
                              # E, guard 1.631; one user-keyed window
                              # over the user_day grain)
}
# ----------------------------------------------------------------
# r14 OPTIMIZATION-round pin re-derivation (sessions 1-3): every pin
# below covers a query whose plan this round rewrote and measured
# faster; leaving the old pin would let a real regression back to the
# pre-rewrite cost pass silently. Both end-of-round bench runs had a
# compromised guard (run A: calm probe 2.05 but windows 0/6 measured
# 8-10x contended; run B: probe itself network-cold at 9.68 with calm
# 1.1-3.3x windows), so these pins take NO normalization credit:
# pin = roundup05(1.5 x run-B RAW median) — i.e. the medians as
# measured on a 1.1-1.6x warm box, treated as if the box were calm.
# That is strictly conservative (a calm-normalized recipe would pin
# lower) and every move is DOWNWARD. s_table_profile_approx and
# d57_span_strip keep their session-1/3 pins (1.5 x raw median lands
# within 0.05 of the existing values).
BUDGET_R14_OPT = {
    "m8_payload_byte_stats": 0.6,      # raw med 0.390 (was 2.65 —
                              # session-1 mapInArrow bincount kernel)
    "t_ttr": 0.65,                     # raw med 0.435 (was 1.1 —
                              # session-1 sorted-run fold)
    "d71_eval_diversity_sample": 0.7,  # raw med 0.464 (was 2.0 —
                              # session-1 integer-shift struct fold)
    "t_novelty": 0.6,                  # raw med 0.378 (was 1.05 —
                              # session-3 join-back removal)
    "d49_kmeans_codebook": 0.95,       # raw med 0.630 (was 1.75 —
                              # session-3 _assign_arrow kernel)
    "d36_hard_negatives": 0.8,         # raw med 0.501 (was 1.0 —
                              # session-3 local-top-k mining kernel)
}
# ----------------------------------------------------------------
# r15 OPTIMIZATION-round pin re-derivation. Receipts: bench run B
# (2026-08-18, start scan_scale 1.00, scan_spread 0.238, windows
# 1.0-1.73 — the calmest full run of the round) plus interleaved
# same-process A/B medians per the measurement protocol. Uniform
# recipe: pin = roundup05(1.5 x calm in-harness median). Downward
# moves cover this round's rewrites (the old pins would let a
# regression back to the pre-rewrite cost pass); the ONE upward move
# (d65) follows VERDICT r14 item 3's explicit instruction — the old
# 0.4 pin breached on every calm run since (run B median 0.446
# normalized 0.424; interleaved solo 0.474 after the SortAggregate
# fix) and predates the trained-index consolidation of its MV.
BUDGET_R15 = {
    "d57_span_strip": 0.95,        # run-B med 0.586 / run-A 0.636
                              # (was 1.15; r15 span-free-skip rewrite).
                              # Deliberately BELOW the recipe: roundup05
                              # (1.5 x 0.636) = 1.0, tightened to 0.95
                              # so d57 leaves the >1 s registry
                              # (PINS_ABOVE_WORKING_BUDGET).
    "d36_hard_negatives": 0.65,    # run-B med 0.339, run-A 0.421
                              # (was 0.8; single-exchange wiring —
                              # kernel evaluated once, recipe off the
                              # worse calm median)
    "s_table_profile_approx": 1.2, # run-B med 0.785 (was 1.6;
                              # dedup-before-md5 KMV leg)
    "d65_cluster_purity": 0.7,     # run-B med 0.446, solo A/B 0.474
                              # (was 0.4 — breached every calm run
                              # this round BEFORE and after the
                              # SortAggregate fix; re-derived per
                              # VERDICT r14 #3 with run B as receipt)
    # d66_nprobe_sweep stays at 1.2: calm medians now 0.86-0.91 (was
    # 1.888 on the r14 driver record) — the recipe would give 1.35,
    # keeping the existing TIGHTER pin instead.
    # d8_ann_ivf stays at 0.7: calm medians 0.59-0.65 — the r14
    # breach (0.792) did not reproduce on a calm run.
}
BUDGET = {
    **BUDGET_GENERATED,
    **BUDGET,
    **BUDGET_R10,
    **BUDGET_R12,
    **BUDGET_R13,
    **BUDGET_R14,
    **BUDGET_R14_OPT,
    **BUDGET_R15,
}

# ----------------------------------------------------------------
# Over-the-line pin registry (VERDICT r8 #8). BASELINE.md derives a
# ~1 s working budget per query (the reference's 500 ms slow-query
# SLO x the agreed 2x allowance). Any pin ABOVE that line is an
# exception that must be NAMED here with its rationale — the same
# discipline as the plan-audit's EXCH_BUDGET — so pin vocabulary
# cannot drift upward silently behind per-entry comments. The module
# asserts the registry matches the merged BUDGET exactly (a new >1 s
# pin without a registry entry is an ImportError, not a quiet grade
# cut), and main() reports the registry size + names in the bench
# JSON so every round's artifact carries the audit.
WORKING_BUDGET_SEC = 1.0
# Trimmed to 14 in r10 (VERDICT r9 #2): the regenerated 1.5x-median
# pins dropped 14 former members under the line (13 survivors + the
# new d60 joined on arrival); every entry's pin is within the uniform
# recipe of its measured medians, so a real ~1.6x regression now trips
# the guard instead of hiding in headroom. r11: d50 left the registry
# (round-1 rank moved behind the MV seam, 1.06 -> 0.38 measured).
PINS_ABOVE_WORKING_BUDGET = {
    # r14 optimization round: d49_kmeans_codebook, t_ttr, t_novelty,
    # d71_eval_diversity_sample and m8_payload_byte_stats LEFT the
    # registry — their rewrites (BUDGET_R14_OPT) put the re-derived
    # pins under the 1 s working line (22 -> 17 entries).
    # recall audits: both in-cell rankings derived per probe
    "d25_ann_recall": "PQ + exact in-cell rankings per probe (composes d24+d8)",
    "d25b_ann_recall_trained": "same measurement, single-pipeline plan shape",
    # gram-grain family: stage-latency-bound at sf0.1, volume-linear at scale
    "d39_split_gram_overlap": "gram-grain split overlap, d30's class "
                              "(r12: calm median now UNDER the line "
                              "after the xxhash64 gram key; only the "
                              "1.5x pin remains above it)",
    # r15: d57_span_strip LEFT the registry — the span-free-skip
    # rewrite re-derived its pin to 0.95 (BUDGET_R15).
    "s_table_profile_approx": "KMV NDV card: stack->string + "
                              "distinct-volume exchange + md5 over the "
                              "distinct values (the bounded-reduce-"
                              "state serving form; r15 pin 1.2 off the "
                              "dedup-before-hash rewrite, still over "
                              "the line because the 11-column encode "
                              "pass is corpus-sized)",
    "t_ngram_docfreq": "corpus trigram doc-frequency profile",
    # plan-depth (many small broadcast joins) rather than data volume
    "d60_dsir_select": "corpus bigram stream folded against the broadcast "
                       "target LM + base-MV join",
    "e5_evidence": "endpoint with measured cross-window variance "
                   "(0.58-1.32 medians same-day); recipe's contention "
                   "term governs (1.1x the worst contended gating low2)",
    "d24_ann_ivfpq": "~5 broadcast joins (PQ ADC pipeline); jitter not data",
    "d14_ann_ivf_nprobe2": "d8 + second probe cell",
    "d31_split_leakage": "d2 pair MVs + 2 assignment joins",
    "d44_semantic_prune": "cell-local pairwise on stored IVF assignment",
    "d48_retention_curve": "one combinable agg over the d2 pair relation",
    "d66_nprobe_sweep": "exact recall@3 at three nprobe operating points "
                        "over the trained index (d25's audit class; both "
                        "scoring legs through the d3 brute-force kernel)",
    "d72_bloom_decontam": "d15's gram-grain class + the bloom positions "
                          "build and probe (join form; A/B trail in "
                          "bloom_positions' docstring)",
    "s5_props_variant": "builds and variant-parses a JSON payload per "
                        "event row (s3's scan-rate class doubled by the "
                        "in-query construction)",
    # d74_source_drift left the registry in r14: the in-harness
    # re-derivation (refresh-warmed MV store, the uniform protocol)
    # reads 0.34 normalized, pin 0.55 — the r13 1.6 was a solo-median
    # artifact.
    "d44b_semantic_prune_capped": "banded cell-local pairwise on the "
                                  "stored IVF assignment (d44's class; "
                                  "work CAP-bounded per member, the "
                                  "100 TB leg of the pair)",
}
_over_line = {n for n, b in BUDGET.items() if b > WORKING_BUDGET_SEC}
assert _over_line == set(PINS_ABOVE_WORKING_BUDGET), (
    "over-line pins drifted: unregistered="
    f"{sorted(_over_line - set(PINS_ABOVE_WORKING_BUDGET))} "
    f"stale={sorted(set(PINS_ABOVE_WORKING_BUDGET) - _over_line)}"
)

# Cold MV-store build budget (VERDICT r7 #4): queries are pinned but
# the MV build path is the real operational cost (292.5 s cold at
# 100x), and until r8 it had no regression tripwire. The whole store
# is rebuilt from scratch once per bench run and the wall time pinned
# (calibration-normalized like every other budget). Measured r8 on an
# idle host: ~17 s; pinned at the usual 1.4x headroom.
REFRESH_ALL_BUDGET = 24.0


def materialize(df) -> None:
    """Execute the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        # custom data dirs whose basename isn't 'sf<number>' still bench
        sf = 0.0

    import __spark_entry__ as mod
    from risk_dashboard_database_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()
    names = [n for n in HEADLINE if n in qs]

    # Session pre-warm (VERDICT r4 #2): before ANY query is timed, pay
    # the one-off process costs — executor thread-pool spin-up, codegen
    # compiler warmup, parquet reader JIT on the biggest table, and the
    # MV-store dataset fingerprint — so the first query in HEADLINE is
    # measured on the same warm footing as the rest.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from risk_dashboard_database_spark.tables import load_table

    materialize(load_table(spark, sf_dir, "lineitem"))
    from risk_dashboard_database_spark.plans import relcache

    relcache._fingerprint(sf_dir)

    calib = _calibrate(spark)

    # Cold MV-store rebuild (VERDICT r7 #4): wipe the store and time
    # refresh_all building every registered relation for this dataset.
    # Runs after calibration (probes don't touch the store) and before
    # the query loop, which therefore measures MV-warm steady state —
    # the same footing as every prior round.
    from risk_dashboard_database_spark.plans import relcache as _rc
    from risk_dashboard_database_spark.plans.refresh import refresh_all

    _rc.drop_store()
    t0 = time.perf_counter()
    refresh_steps = refresh_all(spark, sf_dir)
    refresh_cold = round(time.perf_counter() - t0, 3)

    # Mid-run calibration windows (VERDICT r11 "what's wrong" #3): the
    # start-of-run probes are blind to contention that ARRIVES later —
    # twice now a calm-probe run (guard ~1.0) had a consecutive block
    # of queries breach pins at 2-3x their calm medians, clearing on
    # the next run. So the scan probe is re-timed every
    # MIDRUN_PROBE_EVERY headline queries; each query records which
    # window it ran in, and queries whose window guard exceeds the
    # start-of-run guard by >15% are FLAGGED (not discarded) in the
    # artifact, turning the post-hoc "was that window contended?"
    # adjudication into a machine-readable answer. One probe run per
    # window (~1 s each, ~6 windows at 128 queries) keeps the overhead
    # under 1% of the suite.
    MIDRUN_PROBE_EVERY = 25
    scan_path = _scan_probe_path(spark)

    def _window_guard() -> float:
        return max(
            1.0, _scan_probe_once(spark, scan_path) / CALIB_SCAN_REF_SEC
        )

    window_guards: list[float] = []
    query_window: dict[str, int] = {}

    per_query: dict[str, float] = {}
    per_query_min: dict[str, float] = {}
    per_query_low2: dict[str, float] = {}
    for name in names:
        if len(query_window) % MIDRUN_PROBE_EVERY == 0:
            window_guards.append(round(_window_guard(), 3))
        query_window[name] = len(window_guards) - 1
        # warm-up run pays whole-stage-codegen compilation + parquet
        # footer reads; the timed runs are steady-state latency (the
        # reference's slow-query SLO is a warm-server number too,
        # `app.py:894`). Median of N_RUNS for stability.
        materialize(qs[name](spark, sf_dir))
        times = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        times.sort()
        per_query[name] = round(times[len(times) // 2], 3)
        per_query_min[name] = round(times[0], 3)
        per_query_low2[name] = round(times[min(1, len(times) - 1)], 3)

    # Budget guard trips on the normalized 2ND-SMALLEST of the timed
    # runs (ADVICE r7: the strict min let a regression that inflates
    # 4/5 runs — an intermittent spill, a load-dependent extra
    # exchange — pass as long as one clean run snuck under the pin;
    # the median tripped on pure co-tenant noise, measured r7: a1
    # medians 0.78/0.55/0.44 across consecutive batches, min stable
    # ~0.45). The 2nd-smallest keeps one-run noise immunity while a
    # 4/5-run regression still trips. The artifact's "queries" stays
    # the median (honest typical latency); a normalized-MEDIAN breach
    # is additionally REPORTED (not gated) in "median_over_budget" so
    # a noisy-but-real drift is visible in the artifact history.
    over = {
        n: {
            "sec": per_query[n],
            "min_sec": per_query_min[n],
            "low2_sec": per_query_low2[n],
            "normalized_low2_sec": round(
                per_query_low2[n] / calib["guard_scale"], 3
            ),
            "budget": b,
        }
        for n, b in BUDGET.items()
        if n in per_query and per_query_low2[n] / calib["guard_scale"] > b
    }
    median_over = {
        n: {
            "sec": per_query[n],
            "normalized_sec": round(per_query[n] / calib["guard_scale"], 3),
            "budget": b,
        }
        for n, b in BUDGET.items()
        if n in per_query and per_query[n] / calib["guard_scale"] > b
    }
    # Baseline is the START-OF-RUN SCAN scale, not guard_scale
    # (code-review r12 #2): the window probe is a scan measurement,
    # and comparing it against max(cpu, scan) under-flags exactly
    # when the box was CPU-hot at start but an I/O co-tenant arrived
    # later. Sensitivity fix (VERDICT r13 #5 — standing note since
    # r12): mid-run probes run inside a WARM process whose own page
    # cache / JIT state inflates the single-shot scan ~1.2x relative
    # to the pristine start median, so a flat calm run used to flag
    # most of its windows (75/143 on run C, addendum 9). Windows
    # after the first are now flagged relative to max(start scan,
    # FIRST window) — the first window shares the warm-process
    # conditions, so a calm run reads ~1.0x against it while a
    # co-tenant arriving mid-run still stands out. Window 0 itself
    # (the only one without a warm-baseline peer) keeps an absolute
    # test at the wider 1.3x so contention arriving during the
    # refresh phase is still caught. Informational only — gating
    # still normalizes by the start-of-run guard_scale.
    start_scan = max(1.0, calib["scan_scale"])
    warm_base = max(start_scan, window_guards[0]) if window_guards else start_scan
    contended_windows = {
        n: {
            "window": w,
            "window_guard": window_guards[w],
            "warm_baseline": warm_base,
            "start_scan_scale": start_scan,
            "start_guard": calib["guard_scale"],
        }
        for n, w in query_window.items()
        if (
            window_guards[w] > start_scan * 1.3
            if w == 0
            else window_guards[w] > warm_base * 1.15
        )
    }
    if refresh_cold / calib["guard_scale"] > REFRESH_ALL_BUDGET:
        over["refresh_all_cold"] = {
            "sec": refresh_cold,
            "normalized_sec": round(refresh_cold / calib["guard_scale"], 3),
            "budget": REFRESH_ALL_BUDGET,
            "steps": refresh_steps,
        }
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": round(sum(per_query.values()), 3),
                "unit": "sec",
                "queries": per_query,
                "queries_min": per_query_min,
                "sf": sf,
                "calibration": calib,
                "refresh_all_cold_sec": refresh_cold,
                "refresh_all_steps": refresh_steps,
                "calibration_windows": window_guards,
                "contended_window_queries": contended_windows,
                "over_budget": over,
                "median_over_budget": median_over,
                "pins_above_working_budget": {
                    "line_sec": WORKING_BUDGET_SEC,
                    "count": len(PINS_ABOVE_WORKING_BUDGET),
                    "names": sorted(PINS_ABOVE_WORKING_BUDGET),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
