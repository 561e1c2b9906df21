"""Single source of truth for the driver contract.

Every query key from SURVEY.md §2 registers here via the ``@register``
decorator; ``__spark_entry__.py`` re-exports ``all_queries()`` /
``all_oracles()``. Keys registered without SQL would get the driver's
weaker rows-only check — since late round 7 there are NONE: every key
(including the true-streaming watermark/timer keys, via artifact-pinned
micro-batch-replay SQL) carries a full DuckDB value oracle.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
#: oracle SQL per key — either the string itself or a ZERO-ARG callable
#: returning it. Callables resolve at all_oracles() CALL time, not at
#: decoration (import) time: oracle builders that embed artifact paths
#: fingerprinted on the source tables (streaming replay slices, the
#: k-means means and assignments, ...) must see the fingerprint of the
#: data as it is at call time, or a testdata regeneration inside a
#: long-lived process serves a stale path (ADVICE r7).
ORACLES: dict[str, str | Callable[[], str]] = {}

#: modules that register queries (imported lazily so a bug in one module
#: doesn't take down the whole contract surface while developing).
_MODULES = (
    "engine.supplier",
    "engine.functions_sql",
    "engine.udfs",
    "engine.orders_port",
    "engine.kmeans",
    "engine.summary",
    "engine.text",
    "engine.similarity",
    "engine.multimodal",
    "engine.streaming",
    "engine.relational",
    "engine.analytics",
    "engine.tableh",
    "engine.tablei",
    "engine.tablej",
    "engine.tablek",
    "engine.tablel",
    "engine.tablem",
    "engine.tablen",
    "engine.tableo",
    "engine.tablep",
    "engine.tableq",
    "engine.tabler",
)

#: ORDER MATTERS for driver verification: the driver's correctness sweep
#: checks a fixed-size PREFIX (exactly 50 keys every delivered round) of
#: the enumeration order. ROUND-13 ROTATION (r12 delivered 50/50 green;
#: staleness-first continues per VERDICT r12 task 2):
#: (a) positions 1-12 — changed-code-first (the standing rule; the
#:     late-r13 pipeline_ann_reassign, pipeline_ann_reindex,
#:     stream_decontaminate, and stream_ingest_e2e joined at positions
#:     3-6, each moving the alphabetically-last in-window r5 key —
#:     text_readability, text_ngram_novelty, text_keyword_rake, then
#:     sim_simhash_radius — past the cutoff):
#:     pipeline_ann_retrain_apply (BRAND-NEW r13 — the ACT step:
#:     integer-mean re-fit of drift-flagged cells, atomic artifact
#:     generations, only flagged cells rewritten),
#:     stream_ann_ingest_ttl (BRAND-NEW r13 — retention-bounded vector
#:     store with live_rows observability), then the six keys the r13
#:     shared-core/epoch/hardening work touched: stream_dedup_cascade_ttl
#:     + stream_dedup_cascade (ONE parameterized batch body; epoch-keyed
#:     idempotent appends; compaction folds into the epoch=-1 sentinel,
#:     deletes after commit), stream_ann_ingest (epoch-keyed appends),
#:     pipeline_ann_retrain_gate (decimal(38,0) drift comparison; shared
#:     funnel/decision helpers), sim_cosine_topk_ivf_pq (rerank 25->100
#:     after the measured capture-ceiling curve; codebook persisted with
#:     the artifact; atomic versioned artifact root),
#:     sim_cosine_topk_pq (encode-helper refactor donor).
#: (b) position 13 — win_sessionize_gap, the sole remaining r3-green
#:     key (displaced from the r12 window; VERDICT r12 task 2 orders it
#:     to lead the stale cohort).
#: (c) positions 14-50 — the r5-stale cohort (recomputed from the
#:     CORRECTNESS_r01-r12 union: the 50 keys whose last external green
#:     is round 5), alphabetical; 37 of 50 fit, the 13 displaced
#:     (sim_simhash_radius, text_keyword_rake .. win_skyline_pareto_2d)
#:     sit at positions 51-63 and rotate next round. A fully-green r13
#:     leaves zero keys older than r5 and drops the median last-green
#:     age.
#: FAIL-first stays the standing rule if any row comes back red.
#: Positions 51+ keep the prior priority order (minus keys promoted
#: above) so enumeration stays deterministic; keys not listed keep
#: registration order behind the prefix (guarded by
#: tests/test_oracle.py every pytest run).
_PRIORITY = (
    # -- (a) changed-code-first (r13): 6 brand-new + 6 touched keys
    "pipeline_ann_retrain_apply",
    "stream_ann_ingest_ttl",
    "pipeline_ann_reassign",
    "pipeline_ann_reindex",
    "stream_decontaminate",
    "stream_ingest_e2e",
    "stream_dedup_cascade_ttl",
    "stream_dedup_cascade",
    "stream_ann_ingest",
    "pipeline_ann_retrain_gate",
    "sim_cosine_topk_ivf_pq",
    "sim_cosine_topk_pq",
    # -- (b) the last r3-green key leads the stale cohort
    "win_sessionize_gap",
    # -- (c) the r5-stale cohort, alphabetical (37 of 50 fit)
    "agg_approx_quantiles",
    "agg_bitmap_distinct",
    "agg_bloom_filter_report",
    "agg_bootstrap_mean_ci",
    "agg_collect_sorted",
    "agg_corr_matrix",
    "agg_count_distinct_multi",
    "agg_countmin_heavy",
    "agg_dup_profile",
    "agg_filter_clause",
    "agg_frequent_pairs",
    "agg_grouping_flags",
    "agg_join_size_estimate",
    "agg_kmv_set_sketch",
    "dedup_near_minhash",
    "fn_array_lambda",
    "fn_map",
    "graph_clustering_coefficient",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_modularity_lp",
    "graph_sssp_bellman_ford",
    "join_aqe_skew",
    "join_interval_overlap",
    "pipeline_dedup_cascade_report",
    "pipeline_domain_mix_weights",
    "pipeline_pretrain_filter",
    "q20_potential_promotion",
    "q21_suppliers_kept_waiting",
    "q22_sales_opportunity",
    "sample_weighted_priority",
    "scan_compaction_plan",
    "scan_manifest_snapshot",
    "scan_manifest_time_travel",
    "scan_profile_columns",
    "sim_centroid_drift",
    "sim_mmr_rerank",
    # ---- window cutoff (50) ----
    # the 13 displaced r5-cohort keys rotate first next round:
    "sim_simhash_radius",
    "text_keyword_rake",
    "text_ngram_novelty",
    "text_readability",
    "text_zipf_fit",
    "ts_burstiness_fano",
    "ts_forecast_snaive",
    "ts_seasonal_decompose",
    "win_drawdown_max",
    "win_hll_sliding_distinct",
    "win_moving_median",
    "win_rolling_slope",
    "win_skyline_pareto_2d",
    # prior priority order, minus promotions:
    "sim_cosine_topk_ivf",
    "agg_salted_skew",
    "agg_string_concat",
    "agg_unpivot",
    "dedup_editdistance",
    "dedup_embedding",
    "dedup_sorted_neighborhood",
    "fn_collation_lcase",
    "fn_try_arith",
    "join_asof_forward",
    "join_asof_tolerance",
    "join_broadcast_nl",
    "join_dynamic_partition_pruning",
    "join_null_safe",
    "join_q18_large_orders",
    "join_q4_exists_priority",
    "join_runtime_bloom_filter",
    "merge_upsert_scd1",
    "multimodal_struct",
    "pipeline_decontaminate",
    "pipeline_mix_sources",
    "q10_returned_items",
    "q11_important_stock",
    "q12_priority_by_status",
    "q14_promo_revenue",
    "q16_parts_supplier",
    "q19_discounted_revenue",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q9_product_profit",
    "scan_parquet_schema_evolution",
    "set_union_by_name",
    "sim_cosine_topk_exact",
    "sim_range_search",
    "sql_recursive_cte",
    "stream_session",
    "stream_sliding",
    "stream_tumbling",
    "sub_correlated",
    "sub_in",
    "sub_scalar",
    "ts_gapfill",
    "win_funnel_sequence",
    "win_latest_per_key",
    "win_pctrank_bucketed",
    "text_bpe_train",
    "join_right",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "fn_array",
    "fn_bitwise",
    "fn_cast",
    "fn_date",
    "fn_explode",
    "fn_explode_outer",
    "fn_hash",
    "fn_interval",
    "fn_json",
    "fn_math",
    "fn_string",
    "fn_struct",
    "fn_trig",
    "fn_variant",
    "join_q2_min_cost_supplier",
    "join_q5_local_supplier",
    "join_q7_nation_volume",
    "so_cluster_stats",
    "so_grouped",
    "so_scored",
    "so_vectors",
    "text_lang_dist",
    "text_langid",
    "text_quality",
    "text_repetition_ratio",
    "text_tfidf_topterms",
    "text_tokens",
    "text_wordcount_topn",
    "tu_grouped",
    "tu_grouped_sql",
    "tu_summary",
    "udf_pandas_scalar",
    "udf_python_scalar",
    "udtf_tokenize",
    "wiki_rank_index",
    "wiki_rank_naive",
    "wiki_rank_reduce",
    "agg_bool",
    "agg_hist_fixed_width",
    "agg_max_by",
    "agg_null_semantics",
    "agg_regression",
    "sim_cosine_topk_lsh",
    "agg_cube",
    "agg_distinct",
    "agg_global",
    "agg_grouping_sets",
    "agg_having",
    "agg_median_mode",
    "agg_pivot",
    "agg_rollup",
    "agg_stats",
    "filter_in_like_null",
    "filter_simple",
    "join_anti",
    "join_asof",
    "join_broadcast",
    "join_bucketed_colocated",
    "join_cross",
    "join_full",
    "join_inner_equi",
    "join_left",
    "join_range_interval",
    "join_salted_skew",
    "join_semi",
    "join_star_5way",
    "join_theta_range",
    "project_arith",
    "project_conditional",
    "scan_json_lines",
    "scan_project",
    "set_except",
    "set_intersect",
    "set_union_all",
    "set_union_distinct",
    "sort_multi_nulls",
    "topk_global",
    "win_first_last",
    "win_lead_lag",
    "win_ntile_pctrank",
    "win_range_frame",
    "win_rank_dense_rownum",
    "win_running_sum",
    "win_topk_per_group",
    "tu_grouped_typed",
    "udaf_pandas_grouped",
    "udf_arrow_scalar",
    "ts_autocorr_lag1",
    "text_bigram_lm",
    "text_langid_confusion",
    "text_vocab_oov_rate",
    "text_char_entropy",
    "graph_degree_distribution",
    "graph_jaccard_link_prediction",
    "graph_assortativity",
    "graph_reciprocity",
    "agg_mann_whitney_u",
    "agg_seasonality_strength",
    "agg_ks_statistic",
    "agg_benford_first_digit",
    "agg_psi_drift",
    "agg_chi_square_independence",
    "agg_ab_test_welch",
    "agg_markov_transitions",
    "agg_join_key_skew_report",
    "agg_hist_equi_depth",
    "agg_hist_log_bins",
    "agg_quantile_multi",
    "agg_weighted_median",
    "agg_trimmed_mean",
    "agg_moments_skew_kurtosis",
    "agg_gini_concentration",
    "scan_binaryfile",
    "scan_text_lines",
    "scan_csv_gzip",
    "scan_orc_roundtrip",
    "agg_hll_mergeable",
    "text_lm_score",
    "q8_market_share",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "merge_upsert_scd2",
    "pipeline_quality_composite",
    "text_pii_mask",
    "pipeline_pack_sequences",
    "pipeline_dataset_card",
    "pipeline_chunk_overlap",
    "stream_stateful_count",
    "stream_stateful_tws",
    "stream_stateful_session_timeout",
    "graph_ktruss_peel",
    "pipeline_embed_batch",
    "agg_groupby_q1",
    "graph_triangles_banded",
    "graph_ktruss_banded",
    "graph_adamic_adar_link_prediction",
    "scan_partition_evolution",
    "sample_balanced_downsample",
    "text_burrows_delta",
    "text_bpe_apply",
    "agg_survival_km",
    "join_fifo_lot_match",
    "win_time_decay_attribution",
    "agg_rfm_segmentation",
    "agg_markov_attribution",
    "agg_hdr_histogram_quantiles",
    "win_ewma_irregular",
    "pipeline_seeded_shuffle",
    "pipeline_dataset_diff",
    "scan_manifest_vacuum_plan",
    "stream_rate_micro_batch",
    "scan_delete_vectors_apply",
    "feat_standard_scale",
    "feat_quantile_bin",
    "feat_target_encode",
    "feat_hashing_trick",
    "join_fuzzy_blocked",
    "scan_python_datasource",
    "agg_incremental_rollup",
    "scan_expectations_report",
    "agg_spearman_rank",
    "sink_python_datasource",
    "scan_xml_roundtrip",
    "udf_cogroup_pandas",
    "win_session_window_native",
    "udtf_table_arg",
    "agg_theil_sen_slope",
    "graph_random_walk_deterministic",
    "win_allocation_waterfall",
    "sim_ann_partitioned_probe",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_substring_spans",
    "dedup_lines_global",
    "pipeline_keep_best_dedup",
    "win_mad_outliers",
    "pipeline_bpe_pair_counts",
    "agg_entropy",
    "graph_pagerank",
    "graph_triangles",
    "pipeline_e2e_pretrain",
)

def _ordered(d: dict) -> dict:
    # Hard-fail on a _PRIORITY name absent from the dict (ADVICE r8):
    # a rename that skips CI, or a partial module-import failure, would
    # otherwise silently shrink the driver's 50-key window prefix.
    missing = [k for k in _PRIORITY if k not in d]
    if missing:
        raise KeyError(
            f"_PRIORITY names missing from registry ({len(missing)}): "
            f"{missing[:10]}"
        )
    head = {k: d[k] for k in _PRIORITY}
    return head | {k: v for k, v in d.items() if k not in head}

_loaded = False


def register(
    name: str, sql: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf: str) -> DataFrame:
            # free caches the PREVIOUS query left alive for its consumer
            # (queries run sequentially in the driver sweep; no query
            # calls another registered query, only unwrapped helpers)
            from engine.session import drain_scratch_caches

            drain_scratch_caches()
            return fn(spark, sf)

        QUERIES[name] = wrapped
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    _load()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    # Callable builders re-execute on every call BY DESIGN (freshness:
    # fingerprinted artifact paths must track the data as it is when the
    # driver runs). ADVICE r8 reviewed this; memoize keyed on the
    # resolved fingerprint only if call frequency ever grows.
    _load()
    return _ordered({k: (v() if callable(v) else v) for k, v in ORACLES.items()})
