"""Planted-fixture tests for the Table R ops (engine/tabler.py):
hand-computed Kaplan-Meier steps incl. censoring and the S=0 edge,
a hand-traced FIFO interval matching, decay-attribution shares, and a
5-customer RFM grid where every score is forced."""

from __future__ import annotations

import datetime
import math

from engine.registry import all_queries

from .table_properties import (
    assert_double_run_identical,
    assert_partition_count_invariant,
)

QUERIES = all_queries()

D = datetime.datetime


def _write(spark, tmp_path, table, df, sub="sf") -> str:
    sf_dir = str(tmp_path / sub)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


def _events(spark, tmp_path, rows, sub="sf"):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    return _write(spark, tmp_path, "events", df, sub)


# -- agg_survival_km ---------------------------------------------------------


def test_km_event_and_censoring(spark, tmp_path):
    t0 = D(2024, 1, 1)
    rows = [
        # u1: converts 1 h after first activity
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + datetime.timedelta(hours=1), 1, "purchase", 1.0, "{}"),
        # u2: converts 100 h in → past the 72 h horizon → censored
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + datetime.timedelta(hours=100), 2, "purchase", 1.0, "{}"),
        # u3: never converts → censored
        (5, t0, 3, "click", 1.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    out = QUERIES["agg_survival_km"](spark, sf).collect()
    assert len(out) == 1  # censoring times carry no KM step
    r = out[0]
    assert (r["t_hours"], r["n_risk"], r["n_events"]) == (1, 3, 1)
    lq = round(1e6 * math.log(2 / 3))
    assert abs(r["survival"] - round(math.exp(lq / 1e6), 6)) < 1e-9


def test_km_all_events_drive_survival_to_zero(spark, tmp_path):
    t0 = D(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + datetime.timedelta(hours=2), 1, "purchase", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + datetime.timedelta(hours=2), 2, "purchase", 1.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    out = QUERIES["agg_survival_km"](spark, sf).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 2 and out[0]["n_risk"] == 2
    assert out[0]["survival"] == 0.0


# -- join_fifo_lot_match -----------------------------------------------------


def test_fifo_interval_matching_hand_traced(spark, tmp_path):
    rows = [
        # part 0 (in the % 97 slice); supply = even orderkeys
        (0, 2, 1, D(2024, 1, 1), 10.0),
        (0, 4, 1, D(2024, 1, 3), 5.0),
        # demand = odd orderkeys
        (0, 1, 1, D(2024, 1, 2), 8.0),
        (0, 3, 1, D(2024, 1, 4), 12.0),
    ]
    df = spark.createDataFrame(
        rows, "l_partkey long, l_orderkey long, l_linenumber int,"
        " l_shipdate timestamp, l_quantity double"
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    r = QUERIES["join_fifo_lot_match"](spark, sf).collect()[0]
    # sup intervals [0,10) [10,15); dem [0,8) [8,20):
    # overlaps 8 + 2 + 5 = 15 matched across 3 pairs, 5 demand short
    assert r["supply_units"] == 15 and r["demand_units"] == 20
    assert r["n_pairs"] == 3 and r["matched_units"] == 15
    assert r["unmatched_demand_units"] == 5


# -- win_time_decay_attribution ----------------------------------------------


def test_time_decay_shares_hand_computed(spark, tmp_path):
    t0 = D(2024, 2, 1)
    rows = [
        (1, t0 - datetime.timedelta(hours=24), 1, "click", 1.0, "{}"),
        (2, t0 - datetime.timedelta(hours=48), 1, "view", 1.0, "{}"),
        (3, t0, 1, "purchase", 1.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n_touches"], r["attributed_conversions"])
        for r in QUERIES["win_time_decay_attribution"](spark, sf).collect()
    }
    c1 = round(1e9 * math.exp(-1.0))
    c2 = round(1e9 * math.exp(-2.0))
    s_click = round(1e6 * c1 / (c1 + c2))
    s_view = round(1e6 * c2 / (c1 + c2))
    assert got["click"] == (1, round(s_click / 1e6, 4))
    assert got["view"] == (1, round(s_view / 1e6, 4))


def test_time_decay_touches_outside_window_excluded(spark, tmp_path):
    t0 = D(2024, 2, 10)
    rows = [
        (1, t0 - datetime.timedelta(days=8), 1, "click", 1.0, "{}"),  # too old
        (2, t0 + datetime.timedelta(hours=1), 1, "view", 1.0, "{}"),  # after
        (3, t0, 1, "purchase", 1.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    assert QUERIES["win_time_decay_attribution"](spark, sf).count() == 0


# -- agg_rfm_segmentation ----------------------------------------------------


def test_rfm_grid_every_score_forced(spark, tmp_path):
    rows = []
    key = 1
    for k in range(1, 6):
        # customer k: k orders of $10k each, all on 2020-01-<k>
        for _ in range(k):
            rows.append((key, k, D(2020, 1, k), 10.0 * k))
            key += 1
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): (
            r["n_cust"],
            r["avg_monetary_cents"],
        )
        for r in QUERIES["agg_rfm_segmentation"](spark, sf).collect()
    }
    # cust k: recency rank k (most recent = cust 5), frequency rank k,
    # monetary rank k (m = k² · 1000 cents) → diagonal cells
    assert got == {
        (k, k, k): (1, float(k * k * 1000)) for k in range(1, 6)
    }


# -- agg_markov_attribution ----------------------------------------------------


def test_markov_attribution_removal_effects(spark, tmp_path):
    t0 = D(2024, 3, 1)
    rows = [
        # u1: click → purchase (converts through click)
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + datetime.timedelta(hours=1), 1, "purchase", 1.0, "{}"),
        # u2: view → no purchase
        (3, t0, 2, "view", 1.0, "{}"),
    ]
    sf = _events(spark, tmp_path, rows)
    got = {r["channel"]: r for r in QUERIES["agg_markov_attribution"](spark, sf).collect()}
    M = 10**12
    # base chain: START splits 1/2 to click (→CONV) and 1/2 to view (→NULL)
    assert got["click"]["p_base_units"] == M // 2
    # removing click diverts its mass to NULL → conversion collapses to 0
    assert got["click"]["p_removed_units"] == 0
    assert got["click"]["share"] == 1.0
    # removing view changes nothing about conversion
    assert got["view"]["p_removed_units"] == M // 2
    assert got["view"]["effect_units"] == 0 and got["view"]["share"] == 0.0
    # channels absent from the data carry zero effect
    assert got["error"]["effect_units"] == 0


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract)
# --------------------------------------------------------------------------

_TABLER_KEYS = (
    "agg_survival_km",
    "join_fifo_lot_match",
    "win_time_decay_attribution",
    "agg_rfm_segmentation",
    "agg_markov_attribution",
)


def test_tabler_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLER_KEYS)


def test_tabler_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLER_KEYS)
