"""Physical-plan quality gates (SURVEY.md §4.3): these assertions pin
the *plan shapes* that make the operators viable at 100 TB — if a
refactor silently turns a broadcast join into a sort-merge join or
drops a parquet pushdown, these fail even though results stay correct.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from engine.registry import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def plan(spark, key: str, mode: str = "formatted") -> str:
    df = QUERIES[key](spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_scan_project_prunes_columns(spark):
    p = plan(spark, "scan_project")
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs, p
    line = rs[0]
    assert "l_quantity" in line and "l_extendedprice" in line
    # pruned columns must not be read from parquet
    assert "l_shipdate" not in line and "l_discount" not in line


def test_filter_simple_pushdown(spark):
    p = plan(spark, "filter_simple")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    assert "GreaterThan(l_quantity,30" in line
    assert "GreaterThanOrEqual(l_discount,0.02" in line


def test_q1_pushdown_and_partial_agg(spark):
    p = plan(spark, "agg_groupby_q1")
    assert any("PushedFilters" in ln and "l_shipdate" in ln for ln in p.splitlines()), p
    # two-phase aggregation: partial + final HashAggregate
    assert p.count("HashAggregate") >= 2, p


def test_broadcast_joins_stay_broadcast(spark):
    for key in ("join_broadcast", "join_star_5way", "join_theta_range"):
        p = plan(spark, key)
        assert "BroadcastHashJoin" in p, f"{key}: no broadcast join\n{p}"


def test_star_join_does_not_sort_merge_dims(spark):
    p = plan(spark, "join_star_5way")
    # only the fact-side orders/customer joins may shuffle; the region/
    # nation dims must never appear under a SortMergeJoin
    assert p.count("BroadcastHashJoin") >= 2, p


def test_topk_global_is_take_ordered(spark):
    p = plan(spark, "topk_global")
    assert "TakeOrderedAndProject" in p, p


def test_window_topk_uses_group_limit(spark):
    p = plan(spark, "win_topk_per_group")
    assert "WindowGroupLimit" in p, p


def test_no_cartesian_in_band_join(spark):
    p = plan(spark, "join_range_interval")
    assert "CartesianProduct" not in p, p


def test_csv_reread_uses_explicit_schema(spark):
    # A22: re-read must not trigger schema inference (no extra scan);
    # cheap proxy: the plan's csv scan reads the declared columns
    p = plan(spark, "scan_csv_roundtrip")
    assert "csv" in p.lower(), p


def test_sink_partitioned_prunes_partitions(spark):
    p = plan(spark, "sink_parquet_partitioned")
    assert "PartitionFilters" in p, p


def test_bucketed_join_has_no_exchange(spark):
    p = plan(spark, "join_bucketed_colocated")
    # co-located: the join and the groupBy reuse the bucket partitioning
    assert "Exchange" not in p, p
    assert "SortMergeJoin" in p, p


def test_salted_join_result_plain(spark):
    # correctness delegated to the oracle; here: the salt column must
    # not leak into the output schema
    from .conftest import SF_SMOKE as _SF

    df = QUERIES["join_salted_skew"](spark, _SF)
    assert "salt" not in df.columns


def test_band_join_is_broadcast_nested_loop(spark):
    p = plan(spark, "join_broadcast_nl")
    assert "BroadcastNestedLoopJoin" in p, p


def test_correlated_subquery_is_decorrelated(spark):
    # the correlated agg must become an aggregate+join, not a per-row
    # rescan: plan contains a HashAggregate keyed by the correlation col
    p = plan(spark, "sub_correlated")
    assert "HashAggregate" in p and "o_custkey" in p, p


def test_q5_supplier_dims_are_broadcast(spark):
    """Q5 shape: supplier/nation/region all ride broadcast joins; the
    only sort-merge-eligible shuffle joins are on the fact keys."""
    p = plan(spark, "join_q5_local_supplier")
    assert p.count("BroadcastHashJoin") >= 3, p


def test_q2_argmin_uses_window_group_limit(spark):
    """Q2 shape: per-part argmin must prune via WindowGroupLimit, not a
    full per-group sort of every (part, supplier) cost row."""
    p = plan(spark, "join_q2_min_cost_supplier")
    assert "WindowGroupLimit" in p, p


def test_q7_nation_filter_before_fact_shuffle(spark):
    """Q7 shape: both nation arms are broadcast-joined."""
    p = plan(spark, "join_q7_nation_volume")
    assert p.count("BroadcastHashJoin") >= 2, p


def test_pctrank_bucketed_no_single_partition_exchange(spark):
    """The bucketed percent_rank must never funnel the fact table
    through a SinglePartition exchange (the plain variant's weakness)."""
    p = plan(spark, "win_pctrank_bucketed")
    assert "SinglePartition" not in p, p
    assert "hashpartitioning(bucket" in p, p


def test_curriculum_no_single_partition_window(spark):
    """pipeline_curriculum_schedule must derive NTILE phases from the
    bucketed offset-merge, never an unpartitioned global-sort window
    (VERDICT r6: the corpus may not funnel through one task)."""
    p = plan(spark, "pipeline_curriculum_schedule")
    assert "SinglePartition" not in p, p
    assert "hashpartitioning(bucket" in p, p


def test_dynamic_partition_pruning_fires(spark):
    """The partitioned-fact join must carry a DynamicPruningSubquery in
    its PartitionFilters — the fact scan reads only surviving partition
    directories."""
    p = plan(spark, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in p.lower(), p


def test_runtime_bloom_filter_injected(spark):
    """The selective-dim shuffle join must push a bloom filter into the
    fact scan (might_contain on the join key)."""
    from engine.registry import all_queries
    from .conftest import SF_SMOKE

    df = all_queries()["join_runtime_bloom_filter"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in p, p


def test_ann_probe_prunes_cell_partitions(spark):
    """The ANN probe scan must carry cell IN (...) PartitionFilters —
    only probed cell directories are read."""
    p = plan(spark, "sim_ann_partitioned_probe")
    rs = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert rs and any("cell" in ln and "IN" in ln for ln in rs), p


def test_q6_all_predicates_pushed(spark):
    """Q6 is scan-side by design: date range, discount band and quantity
    cap must ALL reach the parquet scan's PushedFilters, and the global
    aggregate must be a partial/final pair."""
    p = plan(spark, "q6_forecast_revenue")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line, f"{col} not pushed\n{line}"
    assert p.count("HashAggregate") >= 2, p


def test_decontaminate_eval_side_broadcasts(spark):
    """The eval shingle set is benchmark-sized — the train corpus must
    be filtered via a BroadcastHashJoin, never shuffled on the shingle."""
    p = plan(spark, "pipeline_decontaminate")
    assert "BroadcastHashJoin" in p, p


def test_q9_dims_broadcast(spark):
    """part/supplier/nation must all broadcast in the Q9 star join —
    the fact side shuffles at most once (for the orders join)."""
    p = plan(spark, "q9_product_profit")
    assert p.count("BroadcastHashJoin") >= 3, p


def test_aqe_skew_join_splits_hot_partition(spark):
    """With skew thresholds forced low, AQE must split the hot
    partition at runtime: SortMergeJoin(skew=true) in the FINAL
    adaptive plan. Confs are held by the test across execution (the
    query fn sets none of them, and AQE reads these at execution time,
    not plan time)."""
    from engine.session import session_confs

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    with session_confs(spark, confs):
        df = QUERIES["join_aqe_skew"](spark, SF_SMOKE)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, p


def test_range_bucketed_join_is_equijoin(spark):
    """The pure interval join must decompose into an equi-join on the
    time bucket — never a nested loop (the naive plan for a condition
    with no equality)."""
    p = plan(spark, "join_range_bucketed")
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p, p
    key_lines = [ln for ln in p.splitlines() if "keys" in ln.lower()]
    assert any("bkt" in ln for ln in key_lines), p


def test_dedup_embedding_blocks_on_cell_equijoin(spark):
    """Embedding dedup must candidate-block via an EQUI-join on the IVF
    cell id (+ label residual) — never a cartesian/label-only join whose
    candidate set is O(N²/10) at fixed label cardinality (VERDICT r2)."""
    p = plan(spark, "dedup_embedding")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p
    # formatted mode details: "Left keys [2]: [ca#N, la#N]"
    key_lines = [ln for ln in p.splitlines() if "keys" in ln.lower()]
    assert any("ca#" in ln and "la#" in ln for ln in key_lines), p


def test_minhash_band_join_no_cartesian(spark):
    """Native MinHash candidates must come from a bucket equi-join on
    (band, hash) — never an all-pairs compare."""
    p = plan(spark, "dedup_near_minhash")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    key_lines = [ln for ln in p.splitlines() if "keys" in ln.lower()]
    assert any("band" in ln and "h#" in ln for ln in key_lines), p


def test_pack_sequences_single_shuffle_family(spark):
    """Sequence packing: the running-offset window and the rollup share
    the source partitioning — exactly ONE exchange in the plan."""
    import re

    p = plan(spark, "pipeline_pack_sequences")
    # formatted mode lists each node twice (tree + detail); count detail
    # headers only
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex == 1, f"{n_ex} exchanges\n{p}"


def test_triangles_no_cartesian_and_pushdown(spark):
    # compact-forward must stay pure equi-joins: wedge join on the
    # center, closure on the (b, c) pair — never a cartesian/NL join
    p = plan(spark, "graph_triangles")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q20_red_part_filter_is_broadcast_semi(spark):
    # the part-name filter must reach the scan and the semi-join must
    # broadcast the (tiny) red-part key set, not shuffle the fact table
    p = plan(spark, "q20_potential_promotion")
    assert "StringStartsWith(p_name,red)" in p, p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p


def test_q21_status_filter_pushed_and_anti_join(spark):
    p = plan(spark, "q21_suppliers_kept_waiting")
    assert "EqualTo(o_orderstatus,F)" in p, p
    assert "LeftAnti" in p and "LeftSemi" in p, p


def test_dedup_lines_two_shuffle_families(spark):
    # explode → df groupBy (1 exchange family on seg) → flag join on seg
    # (reuses the same key) → final rollup on source; there must be no
    # per-row Python and no cartesian anywhere
    p = plan(spark, "dedup_lines_global")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Generate" in p and "explode" in p, p


def test_ewma_hourly_preagg_is_two_phase(spark):
    # the data-sized step is the hourly mean: partial + final
    # HashAggregate before the tiny per-type fold
    p = plan(spark, "ts_ewma")
    assert p.count("HashAggregate") >= 2, p
    assert "BatchEvalPython" not in p, p


def test_map_in_arrow_prunes_to_single_column(spark):
    # only event_type may cross the Arrow boundary: the parquet scan
    # must not read user_id/value/ts for a kernel that touches one col
    p = plan(spark, "udf_map_in_arrow")
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs, p
    assert "event_type" in rs[0], rs[0]
    for dropped in ("user_id", "value", "ts"):
        assert dropped not in rs[0], rs[0]
    assert "MapInArrow" in p, p


def test_pandas_iter_udf_stays_arrow(spark):
    # SCALAR_ITER must plan as ArrowEvalPython (vectorized transfer),
    # never row-pickling BatchEvalPython
    p = plan(spark, "udf_pandas_iter")
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_corr_matrix_is_single_pass(spark):
    # the whole matrix must come from ONE partial+final aggregate pair
    # over the fact scan, never one scan per correlation pair
    p = plan(spark, "agg_corr_matrix")
    assert p.count("HashAggregate") >= 2, p
    # exactly one file scan feeds the whole matrix
    assert len([ln for ln in p.splitlines() if "Location:" in ln]) == 1, p


def test_chunk_overlap_is_narrow(spark):
    # per-row array slices: no shuffle anywhere in the chunking pass
    p = plan(spark, "pipeline_chunk_overlap")
    assert "Exchange" not in p, p


def test_wiki_rank_index_filters_tokens_before_any_exchange(spark):
    # VERDICT r3's confirmed scale-killer: the lexicon on the preserved
    # side of a left join forced a BroadcastExchange of the ENTIRE
    # exploded token corpus. Fixed shape: literal INSET filter directly
    # above the explode — tokens are pruned to the 15 lexicon terms
    # before any Exchange/BroadcastExchange sees them, and the only
    # broadcast is the 15-row aggregate/lexicon.
    p = plan(spark, "wiki_rank_index", mode="extended")
    phys = p.split("== Physical Plan ==")[-1]
    lines = phys.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gen, phys
    ins = [i for i, ln in enumerate(lines) if "INSET" in ln or "isin" in ln.lower()]
    assert ins, f"no INSET filter over the token stream\n{phys}"
    # the filter must sit BELOW (i.e. after in plan-tree order, printed
    # directly above) the explode and ABOVE every exchange: no exchange
    # line may appear between the explode and the filter
    f_line = max((i for i in ins if i < gen[0]), default=None)
    assert f_line is not None, (
        f"INSET filter sits below the explode (regression)\n{phys}"
    )
    between = lines[f_line : gen[0]]
    assert not any("Exchange" in ln for ln in between), phys


def test_wordcount_topn_is_take_ordered(spark):
    # the global top-20 must plan as TakeOrderedAndProject (per-partition
    # heap + 20-row merge), never a global row_number window that sorts
    # the whole vocabulary in one reducer (VERDICT r3 weak item)
    p = plan(spark, "text_wordcount_topn")
    assert "TakeOrderedAndProject" in p, p
    # the only SinglePartition exchange allowed is over the 20-row result
    phys = p.split("== Physical Plan ==")[-1]
    lines = phys.splitlines()
    topk = [i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln]
    assert topk, phys
    # nothing below the top-k (printed after it) may exchange to a
    # single partition — the vocabulary aggregation stays 32-way
    below = lines[topk[0] + 1 :]
    assert not any("SinglePartition" in ln for ln in below), phys


def test_mad_outliers_broadcasts_stats_no_fact_shuffle(spark):
    """The per-group median/MAD stats must come back onto the fact via
    BROADCAST joins; the events fact must never hash-shuffle for the
    join (its only exchanges feed the tiny grouped-median aggregates)."""
    p = plan(spark, "win_mad_outliers")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_keep_best_dedup_single_bucket_exchange(spark):
    """Fingerprinting is narrow (its only exchange is the deliberate
    round-robin parallelism repartition); the single HASH exchange
    partitions by the simhash bucket key (window + groupBy reuse it)."""
    p = plan(spark, "pipeline_keep_best_dedup")
    ex = [ln for ln in p.splitlines() if "hashpartitioning" in ln]
    assert len(ex) == 1 and "simhash" in ex[0], p


def test_heavy_string_builds_run_post_shuffle(spark):
    """Pin the round-4 exchange-ordering fix: in the fan-out keys the
    ROUND-ROBIN exchange must ship the RAW text column — i.e. the
    shingle/gram build runs AFTER the repartition, distributed, never
    serially on the one-row-group scan with its fat arrays shuffled."""
    import re

    def _fmt(df):
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    def jaccard_builder_plan():
        # dedup_ngram_jaccard now serves pairs from the materialized
        # parquet (no exchange in the registered plan); the gate applies
        # to the BUILDER that writes it
        from engine.session import T, scan_units
        from engine.similarity import jaccard_pairs

        return _fmt(
            jaccard_pairs(
                T(spark, SF_SMOKE, "documents"),
                units=scan_units(SF_SMOKE, "documents"),
            )
        )

    def shingle_builder_plan():
        # dedup_near_minhash (and the novelty/LSH-audit keys) consume
        # the materialized shingle index; the gate applies to its build
        from engine.similarity import shingle_build_df

        return _fmt(shingle_build_df(spark, SF_SMOKE))

    builders = {
        "jaccard_builder": jaccard_builder_plan,
        "shingle_builder": shingle_builder_plan,
    }
    for key in ("shingle_builder", "jaccard_builder",
                "dedup_substring_spans", "dedup_lines_global"):
        p = builders[key]() if key in builders else plan(spark, key)
        # formatted mode: each "(n) Exchange" block carries an Input list
        blocks = re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\nArguments: RoundRobinPartitioning",
            p,
        )
        assert blocks, f"{key}: no round-robin fan-out exchange\n{p}"
        assert any("text#" in b for b in blocks), (
            f"{key}: fan-out exchange does not ship raw text "
            f"(build ran pre-shuffle?): {blocks}\n{p}"
        )
