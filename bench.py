#!/usr/bin/env python
"""Time the headline registry queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each query is forced through the noop writer, so every column and
aggregate is computed (a bare count() would let Catalyst prune the
projections being timed).

``HEADLINE`` runs in frozen blocks of ``BLOCK_CAPACITY`` queries, each
in its own child process and fresh JVM: one uncounted warmup pass, then
$SPARK_GRAFT_BENCH_PASSES (default 3) counted interleaved passes with
the session cache cleared before every query, plus adaptive top-ups
while a query's trimmed spread exceeds 30%. A query's time is its
median. Blocks keep the per-query JVM dose fixed as the list grows:
BENCH_PRESSURE.json measured a 65-query subset 1.13x slower inside a
186-query same-JVM run than solo, and BENCH_PRESSURE2.json measured
that subset in block mode against solo. st1-st8 run in one more child.

Stdout is ONE JSON line of at most 1,900 chars, because the consumer
keeps only the last 2,000: ``metric``, ``value`` (sum of the headline
medians), ``unit``, ``queries`` (per-query medians; the fastest fold
into ``zz_others`` when the line would overflow), ``sf``, ``passes``,
``detail`` and ``st_total``. Per-query spreads, per-block totals and
the streaming child's detail go to BENCH_DETAIL.json."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

# google.protobuf for st7 (transformWithState), provided before the
# first SparkSession builds the JVM so the Python workers inherit it.
from aqi_analysis_apache_airflow_spark.vendored import provide_protobuf

provide_protobuf()

# Append-only: new queries go at the tail, so every full block of
# BLOCK_CAPACITY keeps its membership and stays comparable across runs.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q10_returned_items",
    "j2_star_join_agg",
    "j6_merge_upsert",
    "a3_keepfirst_dedup",
    "w1_topk_per_group",
    "f4_not_in",
    "e1_tumbling_window",
    "e2_sessionization",
    "e3_sliding_window",
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d8_incremental_dedup",
    "d3_minhash_lsh",
    "d3v_minhash_verified",
    "d4_simhash_neardup",
    "t1_token_stats",
    "t4_tfidf",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_ivfd_topk",
    "sdd1_semantic_dedup",
    "q7_nation_volume",
    "q8_market_share",
    "samp1_stratified_sample",
    "pack1_sequence_packing",
    "d7_cross_source_dedup",
    "cm1_countmin_heavyhitters",
    "rj1_interval_lookup",
    "w5_distribution_ranks",
    "gr1_pagerank",
    "qc1_quality_score",
    "qc2_repetition_filter",
    "ws1_priority_sample",
    "mix1_temperature_mix",
    "ups1_epoch_plan",
    "trunc1_truncation_loss",
    "cal1_quality_gate_sweep",
    "oov1_vocab_coverage",
    "drift1_source_length_drift",
    "sw1_stopword_derivation",
    "pmi1_collocations",
    "ed1_editdist_join",
    "tri1_triangle_count",
    "bf1_bloom_semi_join",
    "knn1_knn_join",
    "emb2_cluster_centroids",
    "hll1_sketch_union",
    "sp1_shortest_path",
    "dq1_referential_integrity",
    "dq2_column_profile",
    "an1_zscore_outliers",
    "ts2_time_weighted_avg",
    "m3_overlap_frames",
    "rc1_recursive_hierarchy",
    "x10_variant_extract",
    "cp1_curation_pipeline",
    "dc1_decontamination",
    "dc2_exact_leak",
    "w6_sliding_distinct",
    "t10_topp_vocab",
    "emb3_unit_normalize",
    "x11_calendar_funcs",
    "j13_null_safe_join",
    "u4_except_all",
    "g12_conditional_aggs",
    "r3_new_users_cumulative",
    "dq3_distribution_drift",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_relationship",
    "q20_excess_supply",
    "split2_cluster_split",
    "sub1_duplicate_spans",
    "qc3_df_quality",
    "zorder1_morton_layout",
    "cdc1_changelog_compact",
    "ts3_linear_interpolate",
    "pq1_product_quantize",
    "dq4_table_checksum",
    "dq5_snapshot_diff",
    "w7_topk_with_ties",
    "an2_mad_outliers",
    "sky1_pareto_frontier",
    "pit1_point_in_time_join",
    "markov1_event_transitions",
    "qb1_quantile_binning",
    "emb4_matryoshka_recall",
    "emb5_centroid_outliers",
    "seg1_rfm_segments",
    "ovl1_interval_overlap_join",
    "bpe1_merge_step",
    "lm1_unigram_rank_score",
    "corr1_spearman",
    "an3_winsorize",
    "gini1_lang_impurity",
    "zone1_zonemap_stats",
    "fe1_decayed_activity",
    "g13_linear_trend",
    "att1_linear_attribution",
    "itv1_merge_intervals",
    "w8_nth_value",
    "w9_ratio_to_report",
    "dq6_skew_profile",
    "wmed1_weighted_median",
    "cos1_tfidf_cosine_pairs",
    "mw1_mann_whitney",
    "seq1_event_trigrams",
    "late1_restatement_plan",
    "dq7_benford_digits",
    "ivm1_partial_merge",
    "grp1_group_top3_concat",
    "den1_grid_density",
    "wmed2_weighted_median_banded",
    "pv1_pivot_multi_agg",
    "dq8_uniqueness_audit",
    "ret1_bm25_topk",
    "shuf1_deterministic_shard",
    "gdpr1_cascade_delete",
    "fmt1_multiformat_roundtrip",
    "lm2_bigram_predictability",
    "mg1_misra_gries_hh",
    "anon1_k_anonymity",
    "sch1_schema_evolution",
    "hn1_hard_negatives",
    "lr1_budget_apportionment",
    "place1_rendezvous_owner",
    "rh1_content_chunks",
    "d9_canonical_best",
    "rp1_hyperplane_lsh",
    "dsir1_importance_rank",
    "d10_containment",
    "ovr1_source_overlap",
    "snm1_sorted_neighborhood",
    "d11_segment_dedup",
    "split3_temporal_split",
    "dc3_semantic_decontamination",
    "km1_lloyd_kmeans",
    "sub2_exact_substring_dedup",
    "rr1_rank_fusion",
    "div1_distinct_ngrams",
    "bloom1_bloom_membership",
    "winnow1_winnowing_fingerprints",
    "kcen1_kcenter_coreset",
    "mmr1_diversified_topk",
    "ks1_ks_drift",
    "ent1_token_entropy",
    "ndcg1_ann_ranking_quality",
    "domcap1_source_cap",
    "zipf1_rank_frequency_fit",
    "dp1_dp_source_counts",
    "cp2_selection_pipeline",
    "dd1_ddsketch_quantiles",
    "kmv1_kmv_distinct",
    "lpa1_label_propagation",
    "ab1_experiment_readout",
    "ab2_mean_shift_ztest",
    "kcore1_kcore_peeling",
    "tau1_ranker_agreement",
    "cpd1_changepoint_cusum",
    "read1_flesch_readability",
    "heaps1_vocab_growth",
    "emb6_dimension_stats",
    "mem1_memorization_risk",
    "gt1_good_turing",
    "bpe2_merge_training",
    "pca1_power_iteration",
    "d4v_simhash_verified",
    "sil1_cluster_silhouette",
    "sea1_hourly_seasonality",
    "val1_gate_dup_independence",
    "priv2_l_diversity",
    "fresh1_staleness_audit",
    "phr1_phrase_retrieval",
    "bpe3_compression_curve",
    "cmp1_corpus_diff",
    "imp1_group_median_impute",
    "sax1_sax_symbols",
    "dq9_contract_check",
    "gap1_interarrival_stats",
    "winnow2_fingerprint_pairs",
    "ppx1_unigram_cross_entropy",
    "rec1_ivf_recall",
    "cur1_curriculum_stages",
    "wv1_winnowing_recall",
    "g6_approx_sketches",
    "m1_binary_features",
    "d6_dedup_clusters",
    "g3_quantiles",
    "j11_salted_join",
    "kcore2_fixed_point_core",
    "drm1_domain_reweight",
    "kw1_source_keywords",
    "qc4_dup_ngram_coverage",
    "cov1_embedding_cell_coverage",
    "m4_payload_dedup_audit",
    "wm1_watermark_detect",
    "kn1_kneser_ney_bigram",
    "m5_frame_overlap_pairs",
    "gr2_fixed_point_pagerank",
    "lpa2_fixed_point_communities",
    "bh1_fdr_source_drift",
    "da1_detector_agreement",
    "perm1_randomization_test",
    "hits1_hubs_authorities",
    "rbo1_rank_biased_overlap",
    "snm2_blocking_recall",
    "basket1_association_rules",
    "ppmi1_sppmi_pairs",
    "rh2_chunk_dedup_payoff",
    "dq10_order_reconciliation",
    "place2_placement_balance",
    "sb1_self_bleu_bigram",
    "auc1_score_auc",
    "mk1_trend_test",
    "ece1_reliability_diagram",
    "a1_distinct",
    "acf1_daily_autocorrelation",
    "aniso1_embedding_anisotropy",
    "anova1_variance_explained",
    "ap1_average_precision",
    "assort1_degree_assortativity",
    "boot1_poisson_bootstrap_ci",
    "brier1_murphy_decomposition",
    "burst1_word_burstiness",
    "c1_chunk_text",
    "caldrift1_calibration_drift",
    "card1_source_dataset_card",
    "card2_selfjoin_cardinality",
    "ccf1_lead_lag",
    "churn1_weekly_churn",
    "cls1_classifier_eval",
    "cohort1_retention_matrix",
    "cv1_fold_balance_audit",
    "d12_dup_cluster_spectrum",
    "d13_threshold_sweep",
    "d2b_ngram_jaccard_capped",
    "d3m_minhash_md5",
    "d5_embedding_near_dup",
    "did1_diff_in_diff",
    "dq11_functional_dependencies",
    "emb10_distance_concentration",
    "emb1_quantize",
    "emd1_wasserstein_length_drift",
    "erank1_participation_ratio",
    "ess1_effective_sample_size",
    "ewma1_exponential_smoothing",
    "f1_cdc_window",
    "f5_not_exists",
    "f6_funnel",
    "fert1_tokenizer_fertility",
    "fleiss1_multirater_kappa",
    "funnel1_ordered_conversion",
    "g10_histogram",
    "g1_rollup",
    "g2_pivot",
    "g4_distinct_agg",
    "g5_cube",
    "g7_grouping_sets",
    "g8_stats_moments",
    "g9_mode",
    "gini2_source_concentration",
    "gof1_weekday_uniformity",
    "gof2_benford_gate",
    "hilbert1_hilbert_layout",
    "hill1_tail_index",
    "iqr1_tukey_fences",
    "ivf2_cell_balance",
    "j10_asof_two_table",
    "j1_full_outer",
    "j4_composite_join",
    "j7_semi_join",
    "j8_left_outer_agg",
    "j9_asof_join",
    "jsd1_jensen_shannon",
    "kappa1_cohen_kappa",
    "lcc1_clustering_coefficient",
    "llr1_collocation_significance",
    "loo1_source_ablation",
    "lorenz1_byte_concentration",
    "lp1_link_prediction",
    "lrk1_logrank_test",
    "m2_frame_sample",
    "m6_scene_segments",
    "markov2_stationary_distribution",
    "mcc1_matthews_corr",
    "mi1_lang_source_mi",
    "mrr1_first_relevant_rank",
    "o1_global_topk",
    "o2_global_sort",
    "p1_rename_trim",
    "p4_derived_columns",
    "pacf1_partial_autocorrelation",
    "pperm1_paired_ranker_test",
    "prt1_operating_points",
    "psi1_population_stability",
    "q12_priority_lines",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_disjunctive_rev",
    "q21_waiting_supplier",
    "q22_idle_balance",
    "q4_order_priority",
    "q6_forecast_revenue",
    "qc5_encoding_profile",
    "qc6_gopher_rules",
    "r1_incremental_rollup",
    "r2_cohort_retention",
    "reg1_forecast_accuracy",
    "ret2_query_likelihood",
    "rle1_run_length_payoff",
    "s4_scan_project",
    "scd2_history",
    "seqdep1_markov_order_test",
    "sim_ivfm_topk",
    "simp1_simpson_diversity",
    "split1_train_val",
    "srd1_spearman_pearson_gap",
    "surv1_kaplan_meier",
    "t2_lang_stopword_score",
    "t3_fingerprint",
    "t5_bpe_tokens",
    "t7_text_clean",
    "t8_pii_redact",
    "t9_vocab_topk",
    "tcl1_t_closeness",
    "theil1_inequality_index",
    "tost1_equivalence_test",
    "ts1_gap_fill",
    "ts4_seasonal_mase",
    "u1_set_ops",
    "u2_except",
    "u3_set_ops_all",
    "w2_running_sum",
    "w3_lag_lead_ntile",
    "w4_range_frame",
    "wand1_maxscore_pruning",
    "x4_aqi_categorize",
    "x5_json_extract",
    "x6_string_funcs",
    "x7_array_hof",
    "x8_map_ops",
    "x9_unpivot",
    "mcn1_mcnemar_rules",
    "cochq1_cochran_q",
    "cliffs1_cliffs_delta",
    "kruskal1_kruskal_wallis",
    "dw1_durbin_watson",
    "runs1_wald_wolfowitz",
    "dm1_diebold_mariano",
    "cmh1_mantel_haenszel",
    "sen1_theil_sen_slope",
    "lb1_ljung_box",
    "pettitt1_change_point",
    "mhor1_mh_common_or",
    "di1_disparate_impact",
    "eo1_equalized_odds",
]

#: Frozen block size. 363 headline queries = 4 full blocks + block 5
#: at 71; new additions fill block 5, then open block 6.
BLOCK_CAPACITY = 73


def headline_blocks() -> list[list[str]]:
    """The committed block map: consecutive frozen 73-query slices of
    the append-only HEADLINE list."""
    return [
        HEADLINE[i : i + BLOCK_CAPACITY]
        for i in range(0, len(HEADLINE), BLOCK_CAPACITY)
    ]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def spread_pct(xs: list[float]) -> float:
    # trimmed range once extra samples exist: one GC pause on a
    # 0.3s query reads as 100% min-max spread while the reported
    # MEDIAN is unaffected — drop the single best/worst sample at
    # >= 4 (both extremes at >= 6, three at >= 9) so the spread
    # describes the stability of the median
    s = sorted(xs)
    if len(s) >= 9:
        core = s[3:-3]
    elif len(s) >= 6:
        core = s[2:-2]
    elif len(s) >= 4:
        core = s[1:-1]
    else:
        core = s
    return 100 * (core[-1] - core[0]) / median(xs)


def raw_spread_pct(xs: list[float]) -> float:
    # untrimmed min-max: the trimmed gate above can pass a
    # genuinely bimodal query on its middle samples — recording
    # the raw range alongside keeps bimodality visible
    s = sorted(xs)
    return 100 * (s[-1] - s[0]) / median(xs)


def _sf_of(sf_dir: str) -> float:
    return float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")


def _warmup(spark, sf_dir: str) -> None:
    """JIT the write path/codegen once and fault the input files into
    the OS page cache so per-query numbers reflect steady state."""
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.format("noop").mode(
        "overwrite"
    ).save()
    from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
    from aqi_analysis_apache_airflow_spark.sources.readers import load_table

    for t in CORPUS_TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()


def _time_query(spark, sf_dir: str, name: str) -> float:
    from aqi_analysis_apache_airflow_spark.plans import REGISTRY

    q = REGISTRY[name]
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _measure(
    spark,
    sf_dir: str,
    names: list[str],
    n_passes: int,
    adaptive_rounds: int = 8,
) -> dict[str, list[float]]:
    """Warmup pass + n_passes counted interleaved passes + adaptive
    top-ups while the trimmed spread exceeds 30%."""
    samples: dict[str, list[float]] = {n: [] for n in names}
    for pass_no in range(n_passes + 1):  # pass 0 = uncounted warmup
        for name in names:
            dt = _time_query(spark, sf_dir, name)
            if pass_no > 0:
                samples[name].append(dt)
    if n_passes > 1:
        for _ in range(adaptive_rounds):
            noisy = [n for n, xs in samples.items() if spread_pct(xs) > 30.0]
            if not noisy:
                break
            for name in noisy:
                samples[name].append(_time_query(spark, sf_dir, name))
    return samples


def _summarize(samples: dict[str, list[float]]) -> dict:
    return {
        "queries": {n: round(median(xs), 4) for n, xs in samples.items()},
        "spread_pct": {n: round(spread_pct(xs), 1) for n, xs in samples.items()},
        "raw_spread_pct": {
            n: round(raw_spread_pct(xs), 1) for n, xs in samples.items()
        },
        "n_samples": {n: len(xs) for n, xs in samples.items()},
        "total": round(sum(median(xs) for xs in samples.values()), 4),
    }


def _run_child(spec_path: str) -> None:
    """Child entry: one fresh JVM, one block of work, detail to spec['out']."""
    with open(spec_path) as fh:
        spec = json.load(fh)
    sf_dir = spec["sf_dir"]
    from aqi_analysis_apache_airflow_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{spec['label']}")
    _warmup(spark, sf_dir)
    samples = _measure(spark, sf_dir, spec["queries"], spec["n_passes"])
    with open(spec["out"], "w") as fh:
        json.dump({"label": spec["label"], **_summarize(samples)}, fh, indent=1)
    spark.stop()


def _spawn_child(spec: dict, log_path: str) -> dict:
    spec_path = spec["out"] + ".spec"
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        rc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run-block", spec_path],
            stdout=log,
            stderr=subprocess.STDOUT,
        ).returncode
    if rc != 0 or not os.path.isfile(spec["out"]):
        tail = ""
        try:
            with open(log_path) as fh:
                tail = fh.read()[-2000:]
        except OSError:
            pass
        raise SystemExit(
            f"bench child {spec['label']} failed rc={rc}; log tail:\n{tail}"
        )
    with open(spec["out"]) as fh:
        return json.load(fh)


def _print_line(
    total: float,
    queries: dict[str, float],
    sf: float,
    n_passes: int,
    st_total: float,
) -> None:
    # The consumer keeps only the last 2,000 characters of stdout, so a
    # longer line is unparseable: fold the fastest queries into one
    # "zz_others" bucket until the line fits.
    budget = 1900
    shown = {name: round(t, 2) for name, t in queries.items()}
    line = ""
    for _ in range(len(shown) + 1):
        payload = {
            "metric": "total_headline_seconds",
            "value": round(total, 2),
            "unit": "sec",
            "queries": shown,
            "sf": sf,
            "passes": n_passes,
            "detail": "BENCH_DETAIL.json",
            "st_total": round(st_total, 2),
        }
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= budget:
            break
        real = [(n, t) for n, t in shown.items() if n != "zz_others"]
        if not real:
            break
        real.sort(key=lambda nt: nt[1])
        folded = shown.get("zz_others", 0.0) + real[0][1]
        shown = dict(real[1:])
        shown["zz_others"] = round(folded, 2)
    assert len(line) <= budget, f"bench line {len(line)} chars > {budget}"
    print(line)


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--run-block":
        _run_child(sys.argv[2])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    if n_passes < 1:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_PASSES={n_passes}: need >= 1 counted pass "
            "(pass 0 is always an uncounted warmup)"
        )

    from aqi_analysis_apache_airflow_spark.plans import REGISTRY

    tmpdir = os.path.join(_HERE, "spark-warehouse", "_bench_blocks")
    os.makedirs(tmpdir, exist_ok=True)

    # Streams get a JVM of their own: after ~850 same-JVM batch
    # executions every availableNow replay ran 5-10x slower while batch
    # queries stayed at full speed, and production streams run in
    # dedicated drivers.
    st_names = sorted(n for n in REGISTRY if n.startswith("st") and n not in HEADLINE)
    blocks = headline_blocks()
    work = [("streaming", st_names)] + [
        (f"headline-b{k}", names) for k, names in enumerate(blocks, start=1)
    ]
    results: dict[str, dict] = {}
    for label, names in work:
        out = os.path.join(tmpdir, label.replace("-", "_") + ".json")
        spec = {
            "label": label,
            "queries": names,
            "sf_dir": sf_dir,
            "n_passes": n_passes,
            "out": out,
        }
        results[label] = _spawn_child(spec, out.replace(".json", ".log"))

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    raw_spread: dict[str, float] = {}
    blocks_detail = []
    for k, names in enumerate(blocks, start=1):
        res = results[f"headline-b{k}"]
        timings.update(res["queries"])
        spread.update(res["spread_pct"])
        raw_spread.update(res["raw_spread_pct"])
        blocks_detail.append(
            {
                "block": k,
                "first_query": names[0],
                "n_queries": len(names),
                "total": res["total"],
            }
        )
    total = round(sum(timings.values()), 4)
    st_detail = results["streaming"]

    with open(os.path.join(_HERE, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(
            {
                "metric": "total_headline_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "passes": n_passes,
                "mode": f"fresh-jvm blocks of {BLOCK_CAPACITY}",
                "spread_pct": spread,
                "raw_spread_pct": raw_spread,
                "blocks": blocks_detail,
                "streaming": st_detail,
            },
            fh,
            indent=1,
        )

    _print_line(
        total=total,
        queries=timings,
        sf=sf,
        n_passes=n_passes,
        st_total=st_detail["total"],
    )


if __name__ == "__main__":
    main()
