#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count-collapsed via a
write-free action) and timed individually; value = total seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the shuffle/join/agg-heavy queries plus the extension
# operators — the ones whose plans matter at 100 TB.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "promo_revenue_by_supp_nation",
    "left_join_enrich",
    "cdc_split_updated",
    "top3_orders_per_segment",
    "sliding_window_refresh",
    "derived_surrogate_key",
    "grouping_sets_revenue",
    "corr_regression_qty_price",
    "outlier_orders_p95",
]
# extension-suite queries (dedup / similarity / text / events)
OPTIONAL = [
    "exact_dedup",
    "minhash_dedup_pairs",
    "simhash_fingerprints",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_recall",
    "views_before_purchase_ranged",
    "text_quality_scores",
    "lang_id_guess",
    "sessionize_events",
    "hourly_event_rollup",
    "user_event_profile",
    "vocabulary_top200",
    "sequence_packing",
    "corpus_curation_pipeline",
    "media_decode_dimensions",
    "asof_last_view_before_purchase",
    "ann_lsh_multitable_topk",
    "doc_repetition_stats",
    "sole_late_suppliers",
    "returned_item_customers",
    "nation_market_share",
    "pii_redaction_stats",
    "domain_extraction_stats",
    "prefix_jaccard_pairs",
    "data_quality_report",
    "boilerplate_removal",
    "document_chunks",
    "daily_peak_concurrency",
    "winsorized_order_stats",
    "dedup_keep_best",
    # round-3 surface: the plan-interesting newcomers
    "passage_dup_stats",
    "cluster_safe_splits",
    "rolling_7d_active_users",
    "session_funnel",
    "decile_spend_profile",
    "event_transition_matrix",
    "stateful_session_equiv",
    "join_key_skew_profile",
    "zorder_key_stats",
    "weighted_sample_docs",
    "unigram_logprob_scores",
    # round-4 surface
    "bpe_pair_counts",
    "bm25_search_topk",
    "dup_cluster_histogram",
    "quota_sample_sources",
    "label_centroid_quality",
    "tfidf_cosine_pairs",
    "interpolated_daily_values",
    "event_value_outliers",
    "hybrid_search_topk",
    # round-4b surface
    "scd2_priority_history",
    "touch_attribution_paths",
    "benchmark_decontamination",
    "source_pair_jaccard",
    "zipf_fit_top_tokens",
    "pagerank_trade_graph",
    "ewma_user_daily_value",
    "cms_token_frequency",
    "snapshot_diff_orders",
    "rrf_fusion_topk",
    "ann_pq_adc_recall",
    "ann_pq_rerank_recall",
    "ann_ivfpq_recall",
    "bpe_learned_merges",
    "scd2_point_in_time",
    "k_anonymity_report",
    "daily_purchase_rate_ci",
    "ts_similarity_blocked_pairs",
    "ts_similarity_bruteforce_topk",
    "label_noise_scan",
    # round-4c
    "sorted_neighborhood_dups",
    "ohlc_daily_bars",
    "purged_fold_report",
    "bigram_logprob_scores",
    "ann_sq8_recall",
    "bpe_encode_stats",
    # round-4d
    "pca_top_component",
    "psi_value_drift",
    "event_pair_rules",
    "nation_triangle_counts",
    "segment_target_encoding",
    "native_session_rollup",
    # round-4e
    "ann_multiprobe_recall",
    "source_temperature_mix",
    "doc_novelty_scores",
    "value_median_mad_by_type",
    "window_toolbox_orders",
    "quality_pr_curve",
    # round-4f
    "top3_per_segment_agg",
    "value_quartiles_by_type",
    "cube_order_counts",
    # round-4g
    "source_signature_terms",
    "label_projection_stats",
    # round-4h
    "lang_id_confusion",
    "score_reliability_bins",
    "cooccurrence_rec_hitrate",
    "rank_normalized_value_by_type",
    # round-4i
    "pca_top2_components",
    # round-4j
    "hll_source_overlap",
    "source_dup_health",
    # round-5
    "containment_dedup_pairs",
    "split_leakage_report",
    "gopher_quality_report",
    "corpus_budget_coverage",
    "embedding_norm_health",
    "doc_length_auc_by_source",
    "mase_seasonal_screen",
    "adamic_adar_order_links",
    "mmr_diversified_topk",
    "unpivot_order_metrics",
    # r13: the orders-status melt relational.py had registered under
    # the same name as round5's lineitem-profile melt (import-order
    # race, now a hard error) — renamed, timed here
    "unpivot_status_metrics",
    # round-6
    "rm3_expanded_bm25",
    "minhash_jaccard_calibration",
    "trigram_lm_scores",
    "cc_cluster_sizes",
    "heaps_law_vocab_fit",
    "mmr_ivf_topk",
    "curation_counts_report",
    # round-6b
    "semdedup_cluster_pairs",
    "ivf_probe_recall_sweep",
    "heavy_hitter_tokens",
    "readability_by_source",
    "cusum_value_changepoints",
    "lsh_band_sweep",
    "semdedup_recall_audit",
    "ann_ivf_incremental",
    # round-9 (URL-tier + substring dedup families, DSIR selection)
    "url_domain_dedup_health",
    "cross_doc_dup_spans",
    "dsir_importance_scores",
    # round-10 surface (the v3 report's bench slot moved to the
    # write-free lite form in r11 — the full write-path report keeps
    # its oracle row in the driver window and its e2e pytest)
    "lang_id_ngram_profile",
    "merged_span_coverage",
    "quality_keeper_dedup",
    "gopher_repetition_fractions",
    "ccnet_perplexity_buckets",
    "hard_negative_mining",
    "epoch_shuffle_manifest",
    "streaming_dedup_equiv",
    "cluster_quality_representatives",
    "hard_negative_ivf_mining",
    "benchmark_span_contamination",
    "source_contamination_rollup",
    # round-10 rotation: never-benched queries with plan shapes the
    # headline set under-covered (connected components, cohort
    # windows, funnel sequences, pivots, running windows, sketch
    # maintenance, stratified sampling, embedding-LSH)
    "near_dup_clusters",
    "retention_cohorts",
    "conversion_funnel",
    "embedding_lsh_dup_pairs",
    "stratified_sample_by_lang",
    "tokenizer_fertility_by_lang",
    "moving_avg_order_price",
    "pivot_qty_by_status",
    "running_customer_spend",
    "sketch_distinct_maintenance",
    "maintained_rollup_equiv",
    "oov_rate_by_lang",
    # round-11 surface (curation_v3_counts_lite's bench slot was cut
    # in r12: curation_drop_attribution rebuilds the same full v3
    # chain and its rollup SUBSUMES the lite counts — benching both
    # double-paid ~31 s ≈ 10% of the total for zero information;
    # both oracle rows stay in the registry/driver window)
    "token_ngram_contamination",
    "token_contamination_rollup",
    "token_span_coverage",
    "streaming_span_dedup_equiv",
    "keeper_fallback_drops",
    "nb_quality_classifier",
    "curation_drop_attribution",
    "span_threshold_sweep",
    "epoch_shuffle_shard_manifest",
    "token_dup_rate_by_source",
    "keeper_policy_delta",
    # round-11b surface (post-queue wave)
    "span_removal_rewrite",
    "semantic_decontamination",
    "matryoshka_recall_sweep",
    "part_ship_overlap_pairs",
    "token_budget_selection",
    "curriculum_phase_manifest",
    "scoped_vs_global_dedup",
    "quality_ensemble_rank",
    "doremi_mixture_weights",
    "dsir_vs_nb_agreement",
    "unimax_language_budgets",
    "l_diversity_report",
    "ann_matryoshka_topk",
    "dup_span_mask_manifest",
    # round-11b rotation: 12 more never-benched queries — the
    # plan-diverse tail first (sketch certificates, gapfill spine,
    # TS regression, multimodal mapInPandas, nested flatten, skew
    # salting), scalar one-liners stay queued for r12
    "forecast_revenue_change",
    "sliding_window_counts",
    "daily_activity_gapfill",
    "media_frame_sample",
    "approx_distinct_certificate",
    "approx_quantile_certificate",
    "json_flatten_props",
    "similar_user_activity",
    "temperature_mixture",
    "weighted_source_mixture",
    "salted_quantity_by_flag",
    "null_safe_join",
    # round-11 rotation: never-benched queries, heaviest operator
    # families first (pair-space dedup/similarity before scalar
    # one-liners), per the r10 verdict mandate
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "incremental_dedup_pairs",
    "lsh_bucket_assignments",
    "ann_lsh_recall",
    "ann_ivf_kmeans_recall",
    "simhash_near_pairs",
    "fuzzy_part_name_pairs",
    "benchmark_contamination",
    "cdc_replay_equiv",
    "token_count_stats",
    "embedding_dim_stats",
    "media_content_stats",
    "doc_fingerprints",
    "top_distinctive_terms",
    "stable_sample_docs",
    # round-12 surface
    "dedup_sidecar_equiv",
    "token_budget_equalized",
    # round-13 surface
    "sidecar_compaction_equiv",
    # round-14 surface
    "media_dimensions_report",
    "similar_user_activity_ann",
    "concat_chunk_packing_report",
    # round-12 rotation: 16 more never-benched queries — array/nested
    # plans and multi-level aggregates first, then the remaining
    # window/rollup/cube shapes; the untimed tail is now ≤40 scalar
    # one-liners
    "window_function_toolbox",
    "array_toolbox_embeddings",
    "positional_unnest_embeddings",
    "embedding_array_stats",
    "deterministic_split_counts",
    "avg_inter_event_gap",
    "event_value_histogram",
    "rollup_quantity",
    "cube_order_stats",
    "distinct_cardinalities",
    "trailing_week_revenue",
    "order_value_quantiles",
    "custdist_order_counts",
    "profit_by_nation_year",
    "min_cost_supplier_per_part",
    "dominant_part_suppliers",
    # round-12 rotation, closing wave: the ENTIRE remaining untimed
    # tail (38 scalar/relational one-liners). After this, every
    # registry query has a recurring bench row except the two v3
    # counts twins, which deliberately stay out: counts_report is
    # the write-path form (parquet writes don't belong in the query
    # bench; its e2e pytest times the write) and counts_lite's
    # chain cost is carried by curation_drop_attribution (see the
    # r12 cut note above) — a regression in either chain shows up
    # in the attribution row.
    "argmax_order_per_status",
    "customers_without_orders",
    "filter_project_scale",
    "first_last_order_price",
    "iso_split_and_parse",
    "monthly_order_volume",
    "null_fill_cast",
    "top100_orders",
    "union_with_drift",
    "filter_events",
    "drift_tolerant_select",
    "customers_with_big_order",
    "cdc_split_new",
    "customer_set_ops",
    "dropna_after_left_join",
    "drop_all_null_columns_q",
    "string_length_gate",
    "string_toolbox",
    "filter_variety",
    "acctbal_dominance",
    "scalar_null_toolbox",
    "orders_with_large_items",
    "brand_price_stats",
    "order_rank_stats",
    "large_volume_customers",
    "rich_inactive_customers",
    "nation_revenue_share",
    "supplier_variety_by_part",
    "bilateral_trade_volume",
    "variant_props_rollup",
    "filtered_aggregates",
    "profile_orders_columns",
    "priority_orders_with_big_items",
    "top_revenue_supplier",
    "small_quantity_revenue_loss",
    "disjunctive_band_revenue",
    "late_ship_priority_orders",
    "source_lang_affinity",
]


def main() -> None:
    from etl_python_azure_spark.queries import registry
    from etl_python_azure_spark.session import codegen_compilations, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    # pay JVM/codegen warmup outside the per-query timings
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    reg = registry()
    names = [q for q in HEADLINE if q in reg] + [q for q in OPTIONAL if q in reg]
    # SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the run (scale
    # rehearsals at sf1 time only the expensive queries); pipeline
    # benches run only when listed (or when no subset is given)
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    subset_names = [s.strip() for s in subset.split(",")] if subset else None
    if subset_names:
        names = [q for q in names if q in subset_names]

    # steady-state warmup: run every query once at the smallest SF so
    # JIT and most whole-stage-codegen compilation happen before the
    # clock starts — the timings then measure throughput, not
    # first-run compilation (which a long-lived cluster pays once, not
    # per query). The session's generated-class cache holds the whole
    # registry's classes (session.CODEGEN_CACHE_MAX_ENTRIES), so a
    # class compiled here is not compiled again in the timed loop.
    # What the clock can still include: classes whose code differs
    # between runs or between the warm-up SF and the timed SF (a plan
    # that changes with input size); the detail file's "compiles" map
    # counts them per row.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001"
    )
    # timing at the warmup SF itself (the contract-test smoke):
    # the warmup pass would just run every query twice
    if os.path.abspath(warm_dir) == os.path.abspath(sf_dir):
        warm_dir = ""
    if warm_dir and os.path.isdir(warm_dir):
        for name in names:
            try:
                reg[name].builder(spark, warm_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
            except Exception:
                pass

    # r15: warm the PIPELINE benches the same way (tiny-SF run paid
    # outside the clock). The per-query loop above has always been
    # warmed; the three pipeline rows were not, so their timed row
    # included first-run codegen/JIT for the whole sink DAG (~4x the
    # steady-state cost: latinad 13.5 s cold vs 3.1 s warm, r15
    # measurement) — a methodology inconsistency, not a throughput
    # signal. Additions-only change; the timed loop is untouched.
    if warm_dir and os.path.isdir(warm_dir):
        import shutil as _shutil
        import tempfile as _tempfile

        from etl_python_azure_spark.plans.curation import (
            bench_curation as _warm_cur,
        )
        from etl_python_azure_spark.plans.synthetic import (
            bench_latinad as _warm_lat,
            bench_sercom as _warm_ser,
        )

        _warm_pipelines = (
            ("latinad_full_refresh", lambda r: _warm_lat(spark, 0.001, r)),
            ("sercom_incremental", lambda r: _warm_ser(spark, 0.001, r)),
            ("curation_pipeline_v2",
             lambda r: _warm_cur(spark, warm_dir, r)),
        )
        for _name, _fn in _warm_pipelines:
            if subset_names is not None and _name not in subset_names:
                continue
            _root = _tempfile.mkdtemp(prefix=f"warm_{_name}_")
            try:
                _fn(_root)
            except Exception:
                pass
            finally:
                _shutil.rmtree(_root, ignore_errors=True)

    # warmup may have persisted intermediates (minhash shingles etc.)
    spark.catalog.clearCache()

    # train-once artifact prewarm at the TARGET SF: a serving cluster
    # trains its PQ codebook / PCA component once and answers many
    # queries against the frozen artifact, so the timed rows below
    # measure steady-state search, not repeated training (r04 verdict
    # items 3 & 6). Training cost is paid here, outside the clock;
    # correctness runs still train for real (first consumer in the
    # driver's process builds the artifact).
    from etl_python_azure_spark.queries._artifacts import prewarm

    t0 = time.time()
    # prewarm() reads each artifact's registered consumer set, so a
    # subset run only pays the training its queries actually serve
    # from (no second hand-maintained consumer list to drift)
    warmed = prewarm(spark, sf_dir, queries=set(names))
    if warmed:
        print(
            f"artifact prewarm ({', '.join(warmed)}): "
            f"{round(time.time() - t0, 1)}s",
            file=sys.stderr,
        )

    # warm the OS page cache for the TARGET-SF parquet (the sf0.001
    # warmup never touches these files, so without this the first
    # heavy query absorbs all of sf0.1's cold-read cost and timings
    # jitter by 2x run-to-run). A production cluster reads hot
    # storage/cache tiers; throughput is what we're measuring.
    import glob as _glob

    # *.parquet may be a single file (testdata) or a Spark-written
    # directory of part files (scale-rehearsal data) — warm both
    paths = []
    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                paths += [os.path.join(root, f) for f in sorted(files)]
        else:
            paths.append(p)
    for p in paths:
        with open(p, "rb") as fh:
            while fh.read(1 << 24):
                pass

    # machine-load calibration: a fixed CPU-bound kernel timed
    # before, midway through, and after the query loop. Absolute
    # bench totals drift up to ~1.8x run-to-run with background load
    # (PLANS.md r05); the probe makes every artifact self-describing
    # — compare calib_sec across runs to separate plan changes from
    # machine load before reading per-query diffs (r05 verdict item
    # 3). The kernel is sized to ~1 s so sustained contention
    # actually registers — the r06-era 0.1 s burst sat between
    # scheduler hiccups and read "quiet" during a +17% drift (r08
    # verdict). Quiet-machine reference: ~0.6 s on the round-9 build
    # host (local[32]).
    def calibrate() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            spark.range(3_000_000_000).selectExpr(
                "count(if((id * 2654435761) % 97 = 0, id, null)) AS c"
            ).collect()
            best = min(best, time.time() - t0)
        return round(best, 3)

    calib_start = calibrate()

    # SPARK_GRAFT_BENCH_REPEATS=N times each query N times and keeps
    # the MIN (the least-load-contaminated sample); the detail file
    # records every run so a committed artifact shows its own spread
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    # generated classes each row compiled inside its timed samples
    compiles: dict[str, int] = {}
    for name in names:
        builder = reg[name].builder
        samples = []
        c0 = codegen_compilations(spark)
        for _ in range(repeats):
            # warm the input file listing/schema, not the result
            t0 = time.time()
            df = builder(spark, sf_dir)
            # force full execution incl. result materialization
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            # drop persisted intermediates so queries don't interfere
            # (each is timed cold-cache, like a fresh job submission)
            spark.catalog.clearCache()
        timings[name] = min(samples)
        runs[name] = samples
        compiles[name] = codegen_compilations(spark) - c0

    # mid-run load sample, between the per-query loop and the
    # pipeline benches — a drift that starts mid-run shows up here
    # before it reaches the end probe
    calib_mid = calibrate()

    # end-to-end pipeline benches: the full extract→reshape→sink DAGs
    # with scale-matched synthetic transports, so the reference's
    # 10-minute full-refresh envelope is measured, not inferred
    import shutil
    import tempfile

    from etl_python_azure_spark.plans.synthetic import (
        bench_latinad,
        bench_sercom,
    )

    from etl_python_azure_spark.plans.curation import bench_curation

    sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.01
    for name, fn in (("latinad_full_refresh", bench_latinad),
                     ("sercom_incremental", bench_sercom),
                     ("curation_pipeline_v2",
                      lambda s, _sf, root: bench_curation(s, sf_dir, root))):
        if subset_names is not None and name not in subset_names:
            continue
        # pipeline rows honor SPARK_GRAFT_BENCH_REPEATS like the
        # per-query loop (min kept, every sample recorded), so the
        # committed BENCH_DETAIL shows spread for the e2e DAGs too
        samples = []
        c0 = codegen_compilations(spark)
        for _ in range(repeats):
            root = tempfile.mkdtemp(prefix=f"bench_{name}_")
            try:
                t0 = time.time()
                fn(spark, sf_num, root)
                samples.append(round(time.time() - t0, 3))
            except Exception:
                # a missing row must be LOUD, not a silently smaller
                # total
                import traceback

                print(f"pipeline bench {name} FAILED:", file=sys.stderr)
                traceback.print_exc()
                break
            finally:
                shutil.rmtree(root, ignore_errors=True)
            spark.catalog.clearCache()
        if samples:
            timings[name] = min(samples)
            runs[name] = samples
            compiles[name] = codegen_compilations(spark) - c0

    calib_end = calibrate()

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only the TAIL of stdout; the r04 full
    # per-query map (116 queries, ~3.6 KB) outgrew that capture and
    # the round's bench gate recorded "parsed": null. Keep the final
    # line under ~2 KB: totals plus the 20 slowest queries. The full
    # per-query map goes to the detail file (default: gitignored
    # .scratch/BENCH_DETAIL.json).
    # write the full map FIRST so a malformed summary line can never
    # discard a completed (multi-minute) run's timings.
    # SPARK_GRAFT_BENCH_DETAIL redirects it. The DEFAULT is the
    # gitignored scratch dir (r12 verdict item 4): the committed
    # repo-root BENCH_DETAIL.json is the deliberate quiet repeats=3
    # artifact, and four rounds running the driver's repeats=1 run
    # overwrote it in the working tree — a driver-style
    # `python bench.py` must leave `git status` clean. To refresh
    # the committed artifact: SPARK_GRAFT_BENCH_DETAIL=
    # BENCH_DETAIL.json SPARK_GRAFT_BENCH_REPEATS=3 python bench.py
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".scratch",
            "BENCH_DETAIL.json",
        ),
    )
    os.makedirs(os.path.dirname(detail_path) or ".", exist_ok=True)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # load indicator: fixed-kernel seconds before/midway/after
        # the run (quiet-machine reference ~0.6 s; a higher value
        # means the machine was loaded and absolute rows are
        # inflated)
        "calib_sec": {
            "start": calib_start, "mid": calib_mid, "end": calib_end,
        },
        "repeats": repeats,
        # classes compiled inside each row's timed samples (0: the
        # row's codegen was all paid in the warm-up)
        "compiles": compiles,
    }
    if repeats > 1:
        detail["runs"] = runs
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    # shrink the slowest-map until the line fits the tail-capture
    # budget (never assert-after-the-fact: the line ALWAYS prints)
    top = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    while True:
        line = json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": dict(top),
                "sf": sf_val,
                "calib_sec": [calib_start, calib_mid, calib_end],
            }
        )
        if len(line.encode()) <= 2048 or not top:
            break
        top = top[:-1]
    print(line)


if __name__ == "__main__":
    main()
