"""Planted-fixture and plan-shape tests for the Table P ops
(engine/tablep.py). The oracle pre-flight (test_oracle.py) proves
Spark ≡ DuckDB on the shipped testdata; these prove the intended
SEMANTICS on corpora built to expose them (hand-computed WOE/IV,
known vocabulary ranks, a known collocation, a planted level shift,
an alternating series with known ACF, hand-traced integer PageRank
mass, Bloom no-false-negatives, a constructed rank-fusion conflict)
and the 100 TB plan shape."""

from __future__ import annotations

import datetime
import io
import math
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.registry import all_queries

from .conftest import SF_SMOKE
from .table_properties import (
    assert_double_run_identical,
    assert_partition_count_invariant,
)

QUERIES = all_queries()

D = datetime.datetime


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _write(spark, tmp_path, table, df, sub="sf") -> str:
    sf_dir = str(tmp_path / sub)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


# -- feat_woe_iv -------------------------------------------------------------


def test_woe_iv_hand_computed(spark, tmp_path):
    # P1: 3 good / 1 bad; P2: 1 good / 3 bad → G = B = 4
    rows = [("P1", "O")] * 3 + [("P1", "F")] + [("P2", "O")] + [("P2", "F")] * 3
    df = spark.createDataFrame(rows, "o_orderpriority string, o_orderstatus string")
    sf = _write(spark, tmp_path, "orders", df)
    got = {r["o_orderpriority"]: r for r in QUERIES["feat_woe_iv"](spark, sf).collect()}
    woe_p1 = math.log((2 * 3 + 1) * 4 / ((2 * 1 + 1) * 4))  # ln(7/3)
    iv_p1 = (3 * 4 - 1 * 4) / 16 * woe_p1
    assert got["P1"]["n_good"] == 3 and got["P1"]["n_bad"] == 1
    assert abs(got["P1"]["woe"] - round(woe_p1, 6)) < 1e-9
    assert abs(got["P1"]["iv_term"] - round(iv_p1, 6)) < 1e-9
    # symmetric construction → WOE antisymmetric, IV terms equal
    assert abs(got["P1"]["woe"] + got["P2"]["woe"]) < 1e-9
    assert abs(got["P1"]["iv_term"] - got["P2"]["iv_term"]) < 1e-9


# -- feat_onehot_vocab -------------------------------------------------------


def test_onehot_vocab_ranks_and_other(spark, tmp_path):
    rows = [
        (0, "A"), (13, "A"), (26, "A"),
        (39, "B"), (52, "B"),
        (65, "C"), (78, "D"),
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_mktsegment string")
    sf = _write(spark, tmp_path, "customer", df)
    got = {
        r["c_custkey"]: (r["feature_index"], r["is_other"])
        for r in QUERIES["feat_onehot_vocab"](spark, sf).collect()
    }
    # A(3) → 0, B(2) → 1, C(1) beats D(1) on the name tie-break → 2
    assert got[0] == (0, False) and got[26] == (0, False)
    assert got[39] == (1, False)
    assert got[65] == (2, False)
    assert got[78] == (-1, True)


# -- text_collocation_pmi ----------------------------------------------------


def test_pmi_known_collocation(spark, tmp_path):
    docs = [(i, "x y") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sf = _write(spark, tmp_path, "documents", df)
    out = QUERIES["text_collocation_pmi"](spark, sf).collect()
    # one bigram at count 5 = the min-count floor; M=10, N=5
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["n_pair"]) == ("x", "y", 5)
    assert abs(r["pmi"] - round(math.log(5 * 100 / (5 * 5 * 5)), 6)) < 1e-9


# -- ts_cusum_changepoint ----------------------------------------------------


def test_cusum_flags_level_shift_boundary(spark, tmp_path):
    rows = [
        (D(1995, 1, d), p)
        for d, p in zip(range(1, 7), [10.0, 10.0, 10.0, 20.0, 20.0, 20.0])
    ]
    df = spark.createDataFrame(rows, "o_orderdate timestamp, o_totalprice double")
    sf = _write(spark, tmp_path, "orders", df)
    out = QUERIES["ts_cusum_changepoint"](spark, sf).collect()
    # g_t = n·cum_t − t·S peaks (in |·|) at the last low-regime day
    assert out[0]["day"] == D(1995, 1, 3)
    assert out[0]["cusum_stat"] == -9000.0
    # |−6000| tie between t2 and t4 breaks on day
    assert [r["day"].day for r in out] == [3, 2, 4, 1, 5]


# -- ts_acf_multi_lag --------------------------------------------------------


def test_acf_alternating_series(spark, tmp_path):
    rows = [
        (D(1995, 1, d), p)
        for d, p in zip(range(1, 7), [1.0, 3.0, 1.0, 3.0, 1.0, 3.0])
    ]
    df = spark.createDataFrame(rows, "o_orderdate timestamp, o_totalprice double")
    sf = _write(spark, tmp_path, "orders", df)
    got = {r["lag"]: r for r in QUERIES["ts_acf_multi_lag"](spark, sf).collect()}
    # d = ±600; denominator 6·600² = 2 160 000
    assert got[1]["n_pairs"] == 5 and abs(got[1]["acf"] - (-0.833333)) < 1e-9
    assert got[2]["n_pairs"] == 4 and abs(got[2]["acf"] - 0.666667) < 1e-9
    assert got[3]["n_pairs"] == 3 and abs(got[3]["acf"] - (-0.5)) < 1e-9


# -- agg_cohort_ltv ----------------------------------------------------------


def test_cohort_ltv_matrix(spark, tmp_path):
    rows = [
        (1, D(1995, 1, 15), 10.0),   # cohort 1995Q1, offset 0
        (1, D(1995, 5, 10), 20.0),   # offset 1
        (2, D(1995, 8, 1), 30.0),    # cohort 1995Q3, offset 0
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    got = {
        (r["cohort_q"], r["offset_q"]): (r["n_cust"], r["n_orders"], r["revenue_cents"])
        for r in QUERIES["agg_cohort_ltv"](spark, sf).collect()
    }
    assert got[(D(1995, 1, 1), 0)] == (1, 1, 1000)
    assert got[(D(1995, 1, 1), 1)] == (1, 1, 2000)
    assert got[(D(1995, 7, 1), 0)] == (1, 1, 3000)


# -- agg_ratio_delta_ci ------------------------------------------------------


def test_ratio_delta_ci_hand_computed(spark, tmp_path):
    orders = [
        (1, 1.0),
        (2, 1.5), (2, 1.5),
        (3, 2.0), (3, 2.0), (3, 1.0),
    ]
    cust = [(1, "S"), (2, "S"), (3, "S")]
    odf = spark.createDataFrame(orders, "o_custkey long, o_totalprice double")
    cdf = spark.createDataFrame(cust, "c_custkey long, c_mktsegment string")
    sf = _write(spark, tmp_path, "orders", odf)
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
    r = QUERIES["agg_ratio_delta_ci"](spark, sf).collect()[0]
    # per-cust (n, y): (1,100) (2,300) (3,500) → R=150,
    # VY=240000, CYN=1200, VN=6 → var = 15000/72
    assert r["n_cust"] == 3
    assert r["ratio_cents"] == 150.0
    assert abs(r["se_cents"] - round(math.sqrt(15000 / 72), 4)) < 1e-9


# -- graph_personalized_pagerank ---------------------------------------------


def test_ppr_hand_traced_integer_mass(spark, tmp_path):
    # one cohort ring 1→2→3→4→1 (4 users, 3 same-ts events each);
    # seed set = {3} (user_id % 3 == 0)
    ts = D(2024, 1, 1, 12, 0, 0)
    rows = [
        (u * 10 + i, ts, u, "x", 1.0, "{}")
        for u in (1, 2, 3, 4)
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    sf = _write(spark, tmp_path, "events", df)
    out = QUERIES["graph_personalized_pagerank"](spark, sf).collect()
    got = [(r["user_id"], r["rank_units"]) for r in out]
    # hand-traced 3 damped integer rounds from r0(3) = 1e12
    assert got == [
        (2, 614_125_000_000),
        (3, 150_000_000_000),
        (4, 127_500_000_000),
        (1, 108_375_000_000),
    ]


# -- join_bloom_prefilter_semi -----------------------------------------------


def test_bloom_prefilter_no_false_negatives(spark, tmp_path):
    parts = [(k, "PROMO" if k <= 3 else "STANDARD") for k in range(1, 11)]
    li = [(k, 1.0) for k in range(1, 11) for _ in range(2)]
    pdf = spark.createDataFrame(parts, "p_partkey long, p_type string")
    ldf = spark.createDataFrame(li, "l_partkey long, l_extendedprice double")
    sf = _write(spark, tmp_path, "part", pdf)
    ldf.coalesce(1).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    r = QUERIES["join_bloom_prefilter_semi"](spark, sf).collect()[0]
    assert r["n_members"] == 3
    assert r["n_fact"] == 20
    assert r["n_true"] == 6
    assert r["true_revenue_cents"] == 600
    # Bloom property: every member row passes (no false negatives) and
    # the pass set decomposes exactly into true matches + false passes
    assert r["n_pass"] >= r["n_true"]
    assert r["n_false_pass"] == r["n_pass"] - r["n_true"]
    assert 0.0 <= r["fp_rate"] <= 1.0


def test_bloom_prefilter_plan_all_broadcast(spark):
    # the fact side must never shuffle for a join: filter relation and
    # member dim both broadcast — the 100 TB pre-screen contract
    plan = _plan(spark, "join_bloom_prefilter_semi")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# -- sim_rrf_fusion ----------------------------------------------------------


def test_rrf_fuses_conflicting_rankings(spark, tmp_path):
    dim = 64

    def vec(*head):
        return list(head) + [0.0] * (dim - len(head))

    rows = [
        (7, vec(1.0)),          # query (7 % 101 == 7)
        (1, vec(1.0)),          # cos rank 1 (identical direction), dot rank 3
        (2, vec(10.0, 1.0)),    # cos rank 2, dot rank 1
        (3, vec(5.0, 5.0)),     # cos rank 3, dot rank 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sf = _write(spark, tmp_path, "embeddings", df)
    out = QUERIES["sim_rrf_fusion"](spark, sf).collect()
    assert [r["neighbor_id"] for r in out] == [2, 1, 3]
    exp = {
        1: 1 / 61 + 1 / 63,
        2: 1 / 62 + 1 / 61,
        3: 1 / 63 + 1 / 62,
    }
    for r in out:
        assert abs(r["rrf"] - round(exp[r["neighbor_id"]], 6)) < 1e-9


def test_rrf_query_side_broadcast(spark):
    plan = _plan(spark, "sim_rrf_fusion")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract)
# --------------------------------------------------------------------------

_TABLEP_KEYS = (
    "feat_woe_iv",
    "feat_onehot_vocab",
    "text_collocation_pmi",
    "ts_cusum_changepoint",
    "ts_acf_multi_lag",
    "agg_cohort_ltv",
    "agg_ratio_delta_ci",
    "graph_personalized_pagerank",
    "join_bloom_prefilter_semi",
    "sim_rrf_fusion",
)


def test_tablep_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLEP_KEYS)


def test_tablep_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLEP_KEYS)
