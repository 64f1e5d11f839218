"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf", ...}.

The printed line is deliberately COMPACT (suite totals + the slowest five
queries + a pointer): every prior round's driver artifact ended up with
"parsed": null because the full 136-query line outgrew the driver's tail
capture. The complete per-query dict (sf0.1 + sf1 + ratios + run counts)
is written by this script itself to $SPARK_GRAFT_BENCH_OUT. The default
is the gitignored tools/bench_local_r16_driver_c<cpus>.json (one file
per core count), so a re-run never overwrites a committed artifact; set
SPARK_GRAFT_BENCH_OUT to keep a run elsewhere.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect — the number measures the distributed plan, not result
transfer). Timing is min-of-runs: 2 passes over everything, plus a third
pass for queries under SHORT_QUERY_SEC (min-of-2 let a phantom 68% funnel
"regression" into the r6 artifact that an isolated min-of-3 A/B showed
was flat); per-query run counts are recorded in the full artifact."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_taggregator_spark.catalog import QUERIES  # noqa: E402
from hbase_taggregator_spark.session import get_spark  # noqa: E402

#: queries timed by the driver each round; extend as operators land
HEADLINE = [
    "ts_max_900",
    "ts_sum_900",
    "ts_avg_900",
    "ts_count_900",
    "ts_max_28800_compat",
    "ts_multi_verb_28800",
    "ts_grouped_by_type_86400",
    "ts_rowkey_mode_3600",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "window_topk_parts_per_brand",
    "asof_purchase_to_click",
    "dedup_exact",
    "dedup_minhash_lsh_candidates",
    "text_quality_features",
    "similarity_cosine_topk",
    "sliding_window_1h_15m",
    "q7_nation_volume",
    "decoder_registry_long_be",
    "corpus_pipeline_stats",
    # round-2 additions: the 8 late round-1 queries + wave 9
    "percentiles_per_event_type",
    "stats_moments_per_type",
    "argmax_event_per_type",
    "ts_resample_interpolate_7200",
    "text_bpe_token_count",
    "json_props_extract",
    "histogram_value_25",
    "ts_qualifier_offset_900",
    "decoder_registry_decimal_be",
    "decoder_registry_double_be",
    "dedup_funnel_survivors",
    "similarity_ann_recall_at_5",
    "similarity_ivf_recall_at_5",
    "similarity_lsh_neardup_pairs",
    "q2_min_cost_supplier",
    "q9_profit_by_nation_year",
    # wave 10: corpus-pipeline text ops, funnel, q18, sink round-trip
    "text_repetition_features",
    "text_pattern_counts",
    "corpus_train_val_split",
    "funnel_click_to_purchase_1h",
    "q18_large_orders",
    "sink_partitioned_roundtrip",
    # wave 11: remaining TPC-H shapes
    "q4_order_priority",
    "q13_customer_distribution",
    "q16_parts_supplier_counts",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_idle_customer_balance",
    # wave 12: chunking, packing, quantization
    "corpus_doc_chunks",
    "corpus_pack_sequences",
    "embedding_quantize_int8",
    # wave 13: skew-safe distinct, range-band join, grouping sets, best-dup
    "skew_salted_distinct_users",
    "range_band_join_value",
    "grouping_sets_status_priority",
    "dedup_keep_best_quality",
    # wave 14: streaming sinks and joins
    "streaming_foreachbatch_sink",
    "streaming_static_join_segments",
    "streaming_stream_join_pairs",
    # round 3: remaining TPC-H shapes, multimodal decode, dedup survivors
    "q8_market_share",
    "q11_important_stock",
    "q12_shipmode_priority",
    "q15_top_supplier",
    "q20_potential_promotions",
    "q21_waiting_suppliers",
    "multimodal_decode_headers",
    "dedup_exact_survivor_rows",
    "ts_rollup_hourly_to_daily",
    "streaming_dedup_within_watermark",
    "dedup_jaccard_df_capped",
    "ts_time_weighted_avg_21600",
    "ts_counter_rate_21600",
    "text_bm25_retrieval",
    "corpus_stratified_mix",
    "merge_upsert_customers",
    "text_top_terms_per_lang",
    "layout_zorder_values",
    "asof_nearest_click",
    "corpus_negative_pairs",
    "streaming_continuous_rollup",
    "multimodal_frame_sample",
    "bloom_runtime_filter_orders",
    "sketch_count_min_estimates",
    "udaf_weighted_mean_cents",
    "ts_linear_trend_per_type",
    "ts_rolling_zscore_outliers",
    "ts_lttb_downsample_50",
    "ts_rollup_incremental_merge",
    "reshape_pivot_unpivot_roundtrip",
    "feature_quantile_bins_decile",
    "feature_winsorize_p05_p95",
    "ts_calendar_rollup_weekly",
    # round-3 late wave: smoothing/gaps/SCD2, profiling + KMV, feature
    # hashing, entity resolution, UDTF, text sinks, interval join, ranks
    "ts_ewma_smoothed_3600",
    "ts_largest_gaps_per_type",
    "scd2_user_event_history",
    "profile_documents_columns",
    "sketch_kmv_distinct_users",
    "percentile_approx_accuracy_gate",
    "text_feature_hashing_64",
    "fuzzy_customer_name_candidates",
    "udtf_sentence_split",
    "sink_csv_json_roundtrip",
    "interval_overlap_regimes_sessions",
    "window_rank_functions_showcase",
    "corpus_contamination_overlap",
    "text_rare_token_ratio",
    "cohort_weekly_retention",
    "funnel_three_step_ordered",
    "sketch_kmv_set_ops_users",
    "ts_mad_outliers_per_type",
    "ts_seasonal_baseline_error",
    "sketch_kmv_grouped_distinct",
    "table_diff_after_merge",
    "fuzzy_entity_resolution",
    "bi_mom_growth_per_segment",
    "bi_pareto_customers_80pct",
    "pit_feature_lookup_regimes",
    "nullsafe_join_device_counts",
    "setops_multiset_all_users",
    # round 4: byte-real PNG pixel decode over the mapInPandas boundary
    "multimodal_decode_pixels",
    # round-4 wave 2: semantic dedup, SimHash pairs, decontamination,
    # deterministic sampling, global shuffle, quarantined JSON ingest
    "semdedup_survivors",
    "dedup_simhash_pairs",
    "corpus_decontaminated",
    "corpus_sample_per_source",
    "corpus_global_shuffle",
    "ingest_json_quarantine",
    # round-5 wave: incremental admission dedup, temperature mixing,
    # rare-bigram LM-proxy scoring, boilerplate segment removal
    "dedup_incremental_admitted",
    "corpus_dedup_doc_segments",
    "graph_pagerank_suppliers",
    "sink_orc_roundtrip",
    "profile_skew_report",
    # similarity_dup_clusters / dedup_duplicate_clusters are timed from
    # r12 on — see the round-12 block below for the scheduling-floor
    # caveat their walls carry
    "corpus_source_mixing",
    "text_rare_bigram_ratio",
    "corpus_clean_boilerplate",
    # round-6: the HBase connector row-shape contract end-to-end (cell
    # synthesis + latest-version pivot + decode + mask + buckets)
    "hbase_rowshape_bucketed_agg",
    # round-7: SemDeDup at the production cell-capped sizing (nlist ∝ N)
    "semdedup_survivors_cellcap",
    # round-7: Lee-et-al cross-document repeated-substring dedup
    "corpus_dedup_repeated_substrings",
    # round-8: two-level coarse-quantized assignment (the beyond-broadcast
    # centroid-distribution path; exact-decimal candidate scoring)
    "similarity_twolevel_assign",
    # round-9: two-level top-k (n_probe=2 over the same candidate stream,
    # collect_list top-k in the one shuffle), one Lloyd iteration under
    # twolevel (refreshed means checksummed; per-iteration persist), the
    # ±1 JL random projection (map-side, literal sign matrix), and
    # Matryoshka truncate-renorm (slice + exact prefix norm)
    "similarity_twolevel_topk",
    "similarity_kmeans_twolevel_refine",
    "embedding_random_projection_checksums",
    "embedding_truncate_renorm_checksums",
    # round-10: two-level RETRIEVAL recall@5 (corpus inverted lists via
    # two-level assignment, query probes through the salted two-stage
    # top-k — the full approximation-gate algebra in one plan)
    "similarity_twolevel_recall_at_5",
    # round-10: 1-bit quantization (mean-threshold sign bits packed into
    # 32-bit words — 32x payload cut) and the two-stage Hamming-shortlist
    # + exact-cosine-rerank retrieval over it
    "embedding_binary_quantize_words",
    "similarity_binary_hamming_recall_at_5",
    # round-11: multi-index banded Hamming (complete radius sweep via the
    # banded self-join; banded top-k with the verified in-plan fallback)
    # and the composed IVF + binary retrieval stack
    "similarity_binary_banded_radius15",
    "similarity_binary_banded_dup_top1",
    "similarity_ivf_binary_recall_at_5",
    "embedding_binary_dedup_survivors",
    "similarity_ivf_indexed_recall_at_5",
    # round-8: one-pass embedding covariance (map-side outer products,
    # partial agg to dim^2 cells before the single shuffle) and the
    # z-score whitening-prep companion
    "embedding_covariance_matrix",
    "embedding_standardize_checksums",
    # round-12 (VERDICT r11 "What's wrong" #1 / "Next round" #3): the
    # bench now covers the FULL catalog — every queries() entry is
    # timed, including the formerly gate-only ones. Caveats carried
    # into the numbers, not into exclusions: dedup_duplicate_clusters /
    # similarity_dup_clusters pay a driver-side fixpoint loop whose
    # per-job scheduling floor dominates at fixture scale (read their
    # walls as floor-bound, not operator throughput);
    # similarity_pq_recall_at_5 is mostly Catalyst/codegen compile of
    # the m×k codebook expressions at this sf (the compiled plan is
    # map-side and scan-bound at real scale) — both caveats were the
    # old exclusion rationale, but a floor-bound number still catches a
    # regression where a blind spot catches nothing.
    # --- round-15 new gates ---
    "similarity_opq_lowrank_gain",
    # --- round-14 new gates ---
    "similarity_ivf_pq_residual_recall_at_5",
    "similarity_ivf_pq_residual_indexed_recall_at_5",
    # --- round-13 new gates ---
    "similarity_ivf_pq_rerank_recall_at_5",
    "similarity_ivf_pq_recall_floor",
    "pq_code_collapse_census",
    # --- round-12 new gates ---
    "similarity_ivf_binary_indexed_recall_at_5",
    "similarity_ivf_pq_recall_at_5",
    "similarity_ivf_pq_indexed_recall_at_5",
    "embedding_binary_incremental_admitted",
    "similarity_ivf_binary_recall_floor",
    "similarity_pq_recall_at_5",
    # --- formerly unbenched catalog entries (cheap variants, streaming
    # replay forms, SQL-entry views, and the iterative/compile-bound
    # operators above) ---
    "ts_min_900",
    "ts_avg_900_odd_start",
    "window_running_order_total",
    "window_lag_user_gaps",
    "rollup_order_status_priority",
    "cube_returnflag_linestatus",
    "setops_purchase_error_users",
    "semi_anti_customer_orders",
    "distinct_counts_lineitem",
    "approx_distinct_lineitem",
    "multiversion_latest_2_per_user",
    "text_language_id",
    "text_fingerprint_tokens",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_signatures",
    "similarity_neardup_pairs",
    "similarity_ann_lsh_topk",
    "streaming_ts_count_max_3600",
    "multimodal_binary_features",
    "ts_count_900_gapfilled",
    "session_windows_6h_per_user",
    "pivot_event_type_daily",
    "scalar_functions_showcase",
    "date_functions_orders",
    "q14_promo_revenue",
    "correlated_above_avg_balance",
    "streaming_stateful_running_extrema",
    "rowkey_range_scan",
    "streaming_dedup_exact",
    "similarity_ivf_kmeans_recall_at_5",
    "dedup_duplicate_clusters",
    "text_vocabulary",
    "text_posting_lists",
    "text_conjunctive_search",
    "sql_entry_nation_revenue",
    "sql_entry_rollup_view",
    "similarity_dup_clusters",
]

# full-catalog coverage is a standing invariant from r12 on: a new
# queries() entry that is not benched (or any name drift) fails loudly
# at import instead of silently shrinking the suite
def _assert_full_coverage() -> None:
    missing = [n for n in QUERIES if n not in set(HEADLINE)]
    stale = [n for n in HEADLINE if n not in QUERIES]
    assert not missing and not stale, (missing, stale)


_assert_full_coverage()

#: order-of-magnitude scaling evidence: a representative subset re-timed at
#: sf1 (10× sf0.1, generated in-repo by tools/make_sf1.py). Chosen to cover
#: every scale-sensitive plan family: bucketed ts aggs, big joins + self
#: joins, window top-k, as-of, exact + LSH dedup (post-bucket-cap), n-gram
#: explosion, embedding LSH, quantization, streaming replay.
SF1_SUBSET = [
    "ts_max_900",
    "ts_multi_verb_28800",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "window_topk_parts_per_brand",
    "asof_purchase_to_click",
    "dedup_exact",
    "dedup_minhash_lsh_candidates",
    # NOTE on the funnel's sf1 ratio: the sf1 fixture is ~800× denser in
    # LSH candidate pairs than sf0.1 (~251k vs ~300 pairs from 10× the
    # docs), so wall-clock scales with OUTPUT pair count, not corpus size;
    # the r4 array_intersect verify keeps per-pair cost flat (the exploded
    # formulation it replaced was pairs × shingles-per-doc). r5 stage
    # breakdown at sf1 (10.3s total): signature STAGE 6.9s cold / ~2.7s
    # warm — r6 isolation shows the stage is largely explode/shuffle-
    # bound: hash_fn='xxhash64' trims it ~12% (2.34s vs 2.67s warm) and
    # the full funnel ~11% under IDENTICAL gate parameters (9.95s vs
    # 11.14s; sf1_funnel_xxhash64 vs sf1_queries.dedup_funnel_survivors
    # below uses the same matched setup), so the md5 oracle contract
    # costs ~11% of funnel wall at this shape; banding+self-join 1.8s,
    # verify+anti-join 1.6s. r6 adds a SECOND decade of evidence
    # (bench_scale_r6.json in git history, sf1→sf10): candidate pairs grow 104×
    # by fixture construction while funnel wall grows 12.7× —
    # ~candidates^0.55, i.e. sub-linear in the quantity that bounds the
    # shuffle. (Semdedup's r6 23.8× point predates the r7 Arrow
    # assignment; its current decade evidence lives in
    # bench_scale_r7.json in git history.)
    "dedup_funnel_survivors",
    "text_repetition_features",
    "similarity_lsh_neardup_pairs",
    "embedding_quantize_int8",
    "streaming_foreachbatch_sink",
    # round-3 late wave: the new join/dedup families at 10×
    "scd2_user_event_history",
    "interval_overlap_regimes_sessions",
    "corpus_contamination_overlap",
    "corpus_negative_pairs",
    "fuzzy_customer_name_candidates",
    # round-5: the asymmetric LSH admission join at 10× (candidate-density
    # driven like the funnel) and the boilerplate broadcast-filter pass
    "dedup_incremental_admitted",
    "corpus_clean_boilerplate",
    # round-7: Lee-et-al repeated-substring dedup at 10× — positional
    # gram explode + fingerprint-keyed dup aggregate + doc-keyed
    # span-merge/reassembly; cost tracks total tokens + dup density
    "corpus_dedup_repeated_substrings",
    # adaptive-nlist SemDeDup (isqrt(N) centroids, O(N^1.5 d) total) plus
    # the r7 production cell-capped sizing (nlist = N//100, pair work
    # LINEAR in N) — decade evidence with a measured in-cell pair census
    # in bench_scale_r7.json (git history): cellcap pairs grow ~9.3x per decade,
    # wall ~9.1x; isqrt pairs grow 33.7x. Both ride ivf_assign's Arrow
    # ranking at sf1+ centroid counts (expr path below 128 centroids).
    "semdedup_survivors",
    "semdedup_survivors_cellcap",
    # round-6: the connector row-shape contract at 10× — cell synthesis
    # (×2-version explode) + rowkey-keyed latest-version pivot shuffle +
    # mask decode + bucketed agg; the pivot shuffle is the scale cost
    "hbase_rowshape_bucketed_agg",
    # round-16 (VERDICT r15 #7): the r15/r16-optimized ANN paths at 10× —
    # the two-level assignment (two-phase double/decimal salted top-k)
    # and the residual-indexed serving stack (build + partitioned read +
    # pruned probe), so the scaling story for the optimized paths is
    # measured, not argued
    "similarity_twolevel_assign",
    "similarity_twolevel_recall_at_5",
    "similarity_ivf_pq_residual_indexed_recall_at_5",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    spark = get_spark(
        app_name="taggregator-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one warm-up pass: JVM/codegen/file-listing costs land here, not in q1
    QUERIES["ts_max_900"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # ...plus one tiny Arrow query so the Python worker pool is warm
    # before any multimodal/UDTF timing: worker cold-start is ~2s and
    # showed up as a phantom 1.6x multimodal "regression" in the r7
    # in-suite numbers that an isolated min-of-4 showed was absent
    QUERIES["multimodal_frame_sample"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    # min-of-runs per query: the box this runs on shows multi-minute
    # one-off stalls unrelated to the plans; min-of-runs measures the
    # engine, not the neighbor. Queries under SHORT_QUERY_SEC get a third
    # run — at sub-3s scale two samples are too few to reject one-off
    # scheduling noise (the r6 phantom funnel regression).
    SHORT_QUERY_SEC = 3.0
    timings: dict[str, float] = {}
    run_counts: dict[str, int] = {}

    # --- canary interleave (VERDICT r12 "What's wrong" #4) ---------------
    # This box swings ±15-30% on byte-identical code within a session
    # (r12: three full identical-code runs read 1.13×/1.29×/1.44× and
    # produced 80 false flags). The canaries are five fixed, cheap,
    # plan-family-diverse queries sampled at regular intervals THROUGH
    # the suite; their chronological walls measure the host, not the
    # plans. Triage (tools/bench_compare.py) divides every per-query
    # ratio by the canary-level ratio between the two runs, so a flag
    # means a PLAN got slower relative to the same-host baseline — not
    # that the neighbor got noisy. Canaries are warmed with the suite
    # warm-up so the first samples don't carry cold file-listing costs.
    CANARY = [
        "ts_max_900",
        "q1_pricing_summary",
        "window_topk_parts_per_brand",
        "dedup_exact",
        "similarity_cosine_topk",
    ]
    CANARY_EVERY = 40  # one sample roughly every 40 timed queries
    canary_samples: dict[str, list[float]] = {}
    _timed_count = [0]

    for c in CANARY:
        QUERIES[c](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _canary_sample():
        name = CANARY[
            (_timed_count[0] // CANARY_EVERY) % len(CANARY)
        ]
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        canary_samples.setdefault(name, []).append(
            round(time.time() - t0, 3)
        )

    # Arrow-worker re-warm before the heavy decode (VERDICT r15 #6):
    # multimodal_decode_pixels flagged ~2x in-suite twice (r14, r15-mid)
    # and cleared both times in isolation — the Python workers recycled
    # by the ~190 queries between the suite warm-up and this gate put
    # worker cold-start back into EVERY timed run (both min-of-2 passes
    # are "first runs"). A tiny-Arrow re-warm was tried and only warms
    # the pool's existence, not the per-worker import/JIT/page-cache
    # state the decode's first run pays (isolated A/B: 3.0 s after a
    # full-pool warm vs 1.6 s on a true second run) — so the re-warm is
    # one UNTIMED run of the query itself, exactly the convention the
    # suite-level warm-up already applies to ts_max_900 (warmed at
    # startup, timed later). The timed number then measures the decode
    # plan, not worker churn. Additive only: no other query's
    # measurement methodology changes.
    ARROW_REWARM_BEFORE = {"multimodal_decode_pixels"}

    def _time_pass(names):
        for name in names:
            if name not in QUERIES:
                continue
            if _timed_count[0] % CANARY_EVERY == 0:
                _canary_sample()
            if name in ARROW_REWARM_BEFORE:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            run_counts[name] = run_counts.get(name, 0) + 1
            _timed_count[0] += 1

    _time_pass(HEADLINE)
    _time_pass(HEADLINE)
    _time_pass([n for n, t in timings.items() if t < SHORT_QUERY_SEC])

    # --- sf1 section: same engine, 10× the data -------------------------
    # Generated in-repo (testdata is read-only and stops at sf0.1); skipped
    # only when explicitly disabled or when running the suite at a non-
    # default sf_dir (e.g. quick local iterations at sf0.01).
    sf1_timings: dict[str, float] = {}
    repo = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", f"{repo}/.benchdata/sf1")
    run_sf1 = (
        os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1" and sf == 0.1
    )
    if run_sf1:
        if not os.path.isdir(sf1_dir):
            sys.path.insert(0, f"{repo}/tools")
            from make_sf1 import generate  # noqa: E402

            generate(spark, sf1_dir)
        def _time_sf1_pass(names):
            for name in names:
                if name not in QUERIES:
                    continue
                t0 = time.time()
                QUERIES[name](spark, sf1_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 3)
                sf1_timings[name] = min(sf1_timings.get(name, dt), dt)
                run_counts[f"sf1:{name}"] = run_counts.get(f"sf1:{name}", 0) + 1

        _time_sf1_pass(SF1_SUBSET)
        _time_sf1_pass(SF1_SUBSET)
        _time_sf1_pass(
            [n for n, t in sf1_timings.items() if t < SHORT_QUERY_SEC]
        )

    # production-hash comparison: the funnel's dominant cost is the md5
    # signature stage (the oracle-portable contract); hash_fn='xxhash64'
    # is the engine-native fast path. Timed at sf1, best-of-2, identical
    # plan shape — the delta vs sf1_queries.dedup_funnel_survivors is the
    # price of cross-engine verifiability.
    xx_funnel = None
    if run_sf1:
        from hbase_taggregator_spark.operators.dedup import dedup_funnel
        from hbase_taggregator_spark.sources.parquet import load_table

        # EXACTLY the dedup_funnel_survivors gate parameters and loader
        # (threshold=0.4, k=16, bands=4, load_table) so the delta vs
        # sf1_queries.dedup_funnel_survivors isolates the hash family
        # alone — an earlier form used default threshold=0.5 and a raw
        # read, confounding the comparison
        for _ in range(2):
            t0 = time.time()
            docs = load_table(spark, sf1_dir, "documents")
            dedup_funnel(
                docs, threshold=0.4, k=16, bands=4, hash_fn="xxhash64"
            ).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            xx_funnel = min(xx_funnel or dt, dt)

    full = {
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": run_counts,
        "aggregation": "min",
        "short_query_third_run_under_sec": SHORT_QUERY_SEC,
        # VERDICT r7 "What's wrong" #2: in-suite numbers carry suite
        # ordering + ambient (~10%) drift; for graph_pagerank_suppliers
        # the CANONICAL operator timing is the isolated alternating
        # min-of-5 A/B (ab_pagerank_r7b.py in git history: 4.0 s at sf0.1) — cite
        # that, not this dict, when quoting the operator
        "notes": {
            "graph_pagerank_suppliers": "in-suite; canonical isolated A/B"
            " = ab_pagerank_r7b.py in git history (4.0s sf0.1 min-of-5)",
            # the re-warm is a methodology difference: these queries are
            # not comparable to suites timed without it
            **{
                name: "one untimed full run immediately before every "
                "timed run (Arrow worker re-warm)"
                for name in sorted(ARROW_REWARM_BEFORE)
            },
        },
        "untimed_rewarm_before": sorted(ARROW_REWARM_BEFORE),
    }
    if canary_samples:
        import statistics

        full["canary"] = {
            "queries": CANARY,
            "every_n_timed_queries": CANARY_EVERY,
            "samples": canary_samples,
            "median_level": round(
                sum(
                    statistics.median(v) for v in canary_samples.values()
                ),
                3,
            ),
            "note": "host-state normalizer: before flagging a cross-run "
            "regression, divide each per-query ratio by "
            "(this median_level / reference median_level) — "
            "tools/bench_compare.py does this",
        }
    if sf1_timings:
        full["sf1_queries"] = sf1_timings
        full["sf1_total"] = round(sum(sf1_timings.values()), 3)
        full["sf1_vs_sf01_ratio"] = {
            k: round(sf1_timings[k] / timings[k], 2)
            for k in sf1_timings
            if timings.get(k)
        }
    if xx_funnel is not None:
        full["sf1_funnel_xxhash64"] = xx_funnel

    # full per-query artifact goes to a file; stdout gets ONE compact line
    # (totals + slowest five + pointer) that survives the driver's tail
    # capture — every earlier round recorded "parsed": null because the
    # full line outgrew it
    # the default driver artifact is suffixed by CORE COUNT (r16 —
    # VERDICT r15 #4): the driver re-runs the bench at a lower core
    # count for the scaling block, and a shared default name let the
    # c8 re-run overwrite the round's full 32-core per-query dict
    repo_rel = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        f"{repo}/tools/bench_local_r16_driver_c{cpus}.json",
    )
    with open(repo_rel, "w") as f:
        json.dump(full, f, indent=1)

    slowest5 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    out = {
        "metric": "headline_suite_total",
        "value": full["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": slowest5,
        "queries_note": f"slowest 5 of {len(timings)}; full per-query dict"
        f" (+{len(sf1_timings)} sf1 points) in {os.path.relpath(repo_rel, repo)}",
        "aggregation": "min",
    }
    if sf1_timings:
        out["sf1_total"] = full["sf1_total"]
    if xx_funnel is not None:
        out["sf1_funnel_xxhash64"] = xx_funnel
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
