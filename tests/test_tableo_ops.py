"""Planted-fixture and plan-shape tests for the Table O ops
(engine/tableo.py): the custom Python DataSource, incremental rollup
maintenance, and the expectations report."""

from __future__ import annotations

import datetime
import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.registry import all_queries
from engine.tableo import _GEN_MOD, _GEN_MULT, _GEN_N, _GEN_PARTS, _DetGenSource

from .conftest import SF_SMOKE
from .table_properties import (
    assert_double_run_identical,
    assert_partition_count_invariant,
)

QUERIES = all_queries()


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _write(spark, tmp_path, table, df) -> str:
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


# -- scan_python_datasource --------------------------------------------------


def test_python_datasource_partition_parallel_and_exact(spark):
    try:
        spark.dataSource.register(_DetGenSource)
    except Exception:
        pass
    df = (
        spark.read.format("spark_graft_detgen")
        .option("n", "1000")
        .option("parts", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    rows = {r["id"]: r["val"] for r in df.collect()}
    assert len(rows) == 1000
    for i in (0, 1, 5, 999):
        assert rows[i] == (i * _GEN_MULT) % _GEN_MOD


def test_python_datasource_scan_is_batch_not_row_udf(spark):
    plan = _plan(spark, "scan_python_datasource")
    assert "BatchScan" in plan
    assert "BatchEvalPython" not in plan


def test_python_datasource_group_counts_cover_all_rows(spark):
    rows = QUERIES["scan_python_datasource"](spark, SF_SMOKE).collect()
    assert [r["grp"] for r in rows] == list(range(16))
    assert sum(r["n_rows"] for r in rows) == _GEN_N
    assert _GEN_PARTS == 32  # the shard map the docstring claims


# -- agg_incremental_rollup --------------------------------------------------


def test_incremental_rollup_merge_equals_full_recompute(spark, tmp_path):
    # 3 days x 2 types; the last day is the delta side by construction
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    for day in range(3):
        for typ, vals in [("click", [1.25, 2.50]), ("view", [10.0])]:
            for v in vals:
                rows.append(
                    (eid, base + datetime.timedelta(days=day, minutes=eid), typ, v)
                )
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    sf = _write(spark, tmp_path, "events", df)
    got = {
        r["event_type"]: r
        for r in QUERIES["agg_incremental_rollup"](spark, sf).collect()
    }
    assert got["click"]["n_events"] == 6
    assert got["click"]["sum_val_cents"] == 3 * (125 + 250)
    assert got["click"]["n_days"] == 3
    assert got["view"]["n_events"] == 3
    assert got["view"]["sum_val_cents"] == 3 * 1000
    assert got["click"]["first_date"] == datetime.date(2024, 3, 1)
    assert got["click"]["last_date"] == datetime.date(2024, 3, 3)


def test_incremental_rollup_single_day_state_is_empty(spark, tmp_path):
    # all rows on the cutoff day: the state side is EMPTY and the merge
    # must still equal the full recompute (the first-ever-refresh path)
    df = spark.createDataFrame(
        [(0, datetime.datetime(2024, 5, 5, 1), "a", 1.0),
         (1, datetime.datetime(2024, 5, 5, 2), "a", 2.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    sf = _write(spark, tmp_path, "events", df)
    rows = QUERIES["agg_incremental_rollup"](spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 2 and rows[0]["n_days"] == 1
    assert rows[0]["sum_val_cents"] == 300


# -- scan_expectations_report ------------------------------------------------


def test_expectations_catch_each_planted_violation(spark, tmp_path):
    ts = datetime.datetime
    orders = [
        # key, custkey, status, totalprice, orderdate
        (1, 10, "O", 100.0, ts(1998, 1, 1)),
        (2, 10, "F", -5.0, ts(1998, 1, 2)),       # negative price
        (3, 11, "X", 50.0, ts(1998, 1, 3)),        # bad status
        (3, 10, "P", 60.0, ts(1998, 1, 4)),        # duplicate key
        (4, 99, "O", 70.0, ts(1998, 1, 5)),        # orphan custkey
        (5, 11, "O", 80.0, ts(2002, 6, 1)),        # past SLA horizon
    ]
    odf = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    )
    cdf = spark.createDataFrame([(10,), (11,)], "c_custkey long")
    sf = _write(spark, tmp_path, "orders", odf)
    _write(spark, tmp_path, "customer", cdf)
    got = {
        r["rule"]: (r["n_checked"], r["n_violations"], r["passed"])
        for r in QUERIES["scan_expectations_report"](spark, sf).collect()
    }
    assert got == {
        "positive_totalprice": (6, 1, False),
        "status_domain": (6, 1, False),
        "orderdate_sla": (6, 1, False),
        "unique_orderkey": (6, 1, False),
        "ri_custkey_exists": (6, 1, False),
    }


def test_expectations_all_green_on_clean_data(spark, tmp_path):
    odf = spark.createDataFrame(
        [(1, 10, "O", 100.0, datetime.datetime(1998, 1, 1))],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    )
    cdf = spark.createDataFrame([(10,)], "c_custkey long")
    sf = _write(spark, tmp_path, "orders", odf)
    _write(spark, tmp_path, "customer", cdf)
    rows = QUERIES["scan_expectations_report"](spark, sf).collect()
    assert all(r["passed"] for r in rows)
    assert len(rows) == 5


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract)
# --------------------------------------------------------------------------

_TABLEO_KEYS = (
    "scan_python_datasource",
    "agg_incremental_rollup",
    "scan_expectations_report",
    "agg_spearman_rank",
    "graph_ktruss_peel",
    "scan_xml_roundtrip",
    "udf_cogroup_pandas",
    "win_session_window_native",
    "udtf_table_arg",
    "agg_theil_sen_slope",
    "graph_random_walk_deterministic",
    "win_allocation_waterfall",
    "graph_triangles_banded",
    "graph_ktruss_banded",
)


def test_tableo_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLEO_KEYS)


def test_tableo_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLEO_KEYS)


# -- agg_spearman_rank -------------------------------------------------------


def test_spearman_tie_aware_matches_hand_formula(spark, tmp_path):
    import math

    xs = [1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 7.0]
    ys = [1.10, 0.50, 0.50, 2.00, 2.25, 2.25, 9.99]
    df = spark.createDataFrame(
        list(zip(xs, ys)), "l_quantity double, l_extendedprice double"
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    row = QUERIES["agg_spearman_rank"](spark, sf).collect()[0]

    def r2s(vals):
        from collections import Counter

        cnt = Counter(vals)
        out, cum = {}, 0
        for v in sorted(cnt):
            out[v] = 2 * cum + cnt[v] + 1
            cum += cnt[v]
        return [out[v] for v in vals]

    a = r2s([round(x) for x in xs])
    b = r2s([round(y * 100) for y in ys])
    n = len(a)
    sa, sb = sum(a), sum(b)
    saa = sum(v * v for v in a)
    sbb = sum(v * v for v in b)
    sab = sum(p * q for p, q in zip(a, b))
    rho = (n * sab - sa * sb) / (
        math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
    )
    assert row["n_rows"] == n
    assert row["n_distinct_x"] == 4 and row["n_distinct_y"] == 5
    assert row["spearman_rho"] == round(rho * 1e6) / 1e6


def test_spearman_perfect_monotone_is_one(spark, tmp_path):
    df = spark.createDataFrame(
        [(float(i), float(i) * 3.5 + 1) for i in range(1, 50)],
        "l_quantity double, l_extendedprice double",
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    row = QUERIES["agg_spearman_rank"](spark, sf).collect()[0]
    assert row["spearman_rho"] == 1.0


# -- graph_ktruss_peel -------------------------------------------------------


def test_ktruss_keeps_k4_drops_k3(spark, tmp_path):
    # one K4 cohort clique (every edge in 2 triangles -> survives
    # support >= 2) and one K3 clique (every edge in 1 -> dropped in
    # round 1); trajectory must show exactly that, then stay fixed
    base = datetime.datetime(2024, 4, 1, 6, 0, 0)
    rows, eid = [], 0
    for users, typ in [((1, 2, 3, 4), "a"), ((5, 6, 7), "b")]:
        for u in users:
            for j in range(3):  # >= 3 events to enter the cohort
                rows.append(
                    (eid, base + datetime.timedelta(minutes=eid), u, typ, 1.0, "{}")
                )
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = _write(spark, tmp_path, "events", df)
    from engine.tableo import _KT_CHECK_MULT

    k4_edges = [(u, v) for u in (1, 2, 3, 4) for v in (1, 2, 3, 4) if u < v]
    ck = sum(u * _KT_CHECK_MULT + v for u, v in k4_edges)
    traj = QUERIES["graph_ktruss_peel"](spark, sf).collect()
    assert [
        (r["round"], r["n_edges_before"], r["n_edges_after"], r["checksum_after"])
        for r in traj
    ] == [(1, 9, 6, ck), (2, 6, 6, ck), (3, 6, 6, ck)]


def test_ktruss_empty_after_peel_reports_zero_checksum(spark, tmp_path):
    # a lone K3: all edges die in round 1, later rounds run on empty
    base = datetime.datetime(2024, 4, 2, 6, 0, 0)
    rows = [
        (i * 3 + j, base + datetime.timedelta(minutes=i * 3 + j), u, "a", 1.0, "{}")
        for i, u in enumerate((1, 2, 3))
        for j in range(3)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = _write(spark, tmp_path, "events", df)
    traj = QUERIES["graph_ktruss_peel"](spark, sf).collect()
    assert [
        (r["round"], r["n_edges_before"], r["n_edges_after"], r["checksum_after"])
        for r in traj
    ] == [(1, 3, 0, 0), (2, 0, 0, 0), (3, 0, 0, 0)]


# -- scan_xml_roundtrip ------------------------------------------------------


def test_xml_roundtrip_exact_cents(spark, tmp_path):
    ts = datetime.datetime
    odf = spark.createDataFrame(
        [
            (0, 10, "O", 1.01, ts(1998, 1, 1)),   # key % 5 == 0: in slice
            (5, 10, "O", 2.02, ts(1998, 1, 2)),   # in slice
            (7, 10, "F", 999.99, ts(1998, 1, 3)),  # NOT in slice
            (10, 10, "F", 3.33, ts(1998, 1, 4)),  # in slice
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    )
    sf = _write(spark, tmp_path, "orders", odf)
    got = {
        r["o_orderstatus"]: (r["n_rows"], r["sum_cents"])
        for r in QUERIES["scan_xml_roundtrip"](spark, sf).collect()
    }
    assert got == {"O": (2, 101 + 202), "F": (1, 333)}


# -- udf_cogroup_pandas ------------------------------------------------------


def test_cogroup_reconciles_planted_buckets(spark, tmp_path):
    from engine.tableo import _CG_BUCKETS

    orders = [
        (0, 10.00),            # bucket 0, two matching lineitems
        (_CG_BUCKETS, 5.00),   # bucket 0 again, no lineitems
        (1, 7.50),             # bucket 1, one lineitem
    ]
    lines = [
        (0, 1, 4.00),
        (0, 2, 5.00),
        (1, 1, 7.50),
    ]
    odf = spark.createDataFrame(
        [(k, 1, "O", p, datetime.datetime(1998, 1, 1)) for k, p in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    )
    ldf = spark.createDataFrame(
        lines, "l_orderkey long, l_linenumber long, l_extendedprice double"
    )
    sf = _write(spark, tmp_path, "orders", odf)
    _write(spark, tmp_path, "lineitem", ldf)
    got = {
        r["bucket"]: (
            r["n_orders"], r["n_lineitems"], r["n_matched_keys"], r["diff_cents"]
        )
        for r in QUERIES["udf_cogroup_pandas"](spark, sf).collect()
    }
    # bucket 0: orders 10.00 + 5.00, lines 4.00 + 5.00, 1 of 2 keys matched
    assert got[0] == (2, 2, 1, 1500 - 900)
    # bucket 1: exact reconciliation
    assert got[1] == (1, 1, 1, 0)
    # every other bucket is orders-absent AND lineitem-absent: not emitted
    assert set(got) == {0, 1}


# -- win_session_window_native -----------------------------------------------


def test_session_window_native_gap_boundary_semantics(spark, tmp_path):
    # user 0 (% 7 == 0): events at minutes 0, 10, 45, 75, 106.
    # 10 -> 45 is a 35-min gap (> 30): break. 45 -> 75 is EXACTLY the
    # 30-min gap: Spark MERGES on the boundary (next_start <= prev_end
    # joins sessions) — the rule this test pins. 75 -> 106 is 31 min:
    # break.
    base = datetime.datetime(2024, 6, 1, 0, 0, 0)
    mk = lambda m: base + datetime.timedelta(minutes=m)  # noqa: E731
    df = spark.createDataFrame(
        [
            (i, mk(m), 0, "click", 1.0, "{}")
            for i, m in enumerate([0, 10, 45, 75, 106])
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = _write(spark, tmp_path, "events", df)
    rows = QUERIES["win_session_window_native"](spark, sf).collect()
    got = [(r["sess_start"], r["sess_end"], r["n_events"]) for r in rows]
    assert got == [
        (mk(0), mk(10 + 30), 2),
        (mk(45), mk(75 + 30), 2),
        (mk(106), mk(106 + 30), 1),
    ]


# -- udtf_table_arg ----------------------------------------------------------


def _events_of(spark, tmp_path, types):
    base = datetime.datetime(2024, 7, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (i, base + datetime.timedelta(minutes=i), 0, t, 1.0, "{}")
            for i, t in enumerate(types)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    return _write(spark, tmp_path, "events", df)


def test_udtf_streak_finds_longest_run(spark, tmp_path):
    sf = _events_of(spark, tmp_path, ["a", "a", "b", "b", "b", "a"])
    rows = QUERIES["udtf_table_arg"](spark, sf).collect()
    assert [(r["user_id"], r["n_events"], r["max_streak"], r["streak_type"])
            for r in rows] == [(0, 6, 3, "b")]


def test_udtf_streak_tie_breaks_to_first(spark, tmp_path):
    sf = _events_of(spark, tmp_path, ["a", "a", "b", "b"])
    rows = QUERIES["udtf_table_arg"](spark, sf).collect()
    assert [(r["max_streak"], r["streak_type"]) for r in rows] == [(2, "a")]


# -- agg_theil_sen_slope -----------------------------------------------------


def test_theil_sen_matches_pure_python_replay(spark, tmp_path):
    import hashlib

    rows = [
        # (orderkey, linenumber, quantity, price): linear y=300x + noise,
        # plus one wild outlier the median must shrug off
        (0, 1, 1.0, 3.10),
        (1, 1, 2.0, 6.05),
        (2, 1, 3.0, 8.95),
        (3, 1, 4.0, 12.10),
        (4, 1, 5.0, 15.20),
        (5, 1, 6.0, 999.99),  # outlier
        (6, 1, 7.0, 21.05),
        (7, 1, 8.0, 23.90),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_quantity double,"
        " l_extendedprice double",
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    got = QUERIES["agg_theil_sen_slope"](spark, sf).collect()[0]

    def h(ok, ln):
        return int(hashlib.md5(f"ts:{ok}-{ln}".encode()).hexdigest()[:15], 16)

    recs = sorted(
        [(h(ok, ln), ok, ln, round(q), round(p * 100)) for ok, ln, q, p in rows]
    )
    slopes = []
    for i in range(0, len(recs) - 1, 2):
        (_, _, _, x1, y1), (_, _, _, x2, y2) = recs[i], recs[i + 1]
        if x2 != x1:
            slopes.append(round((y2 - y1) / (x2 - x1) * 1e6))
    slopes.sort()
    sm = slopes[(len(slopes) + 1) // 2 - 1]
    resid = sorted(
        round(y - sm / 1e6 * x) for _, _, _, x, y in recs
    )
    b = resid[(len(resid) + 1) // 2 - 1]
    assert got["n_pairs"] == len(slopes)
    assert got["slope_cents_per_unit"] == sm / 1e6
    assert got["intercept_cents"] == b


def test_theil_sen_immune_to_outlier(spark, tmp_path):
    # clean linear data y = 250x: slope must be EXACTLY 250 even with a
    # massive outlier, because no pair mixing it can reach the median
    rows = [(i, 1, float(i + 1), (i + 1) * 2.5) for i in range(20)]
    rows.append((99, 1, 21.0, 1_000_000.0))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_quantity double,"
        " l_extendedprice double",
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    got = QUERIES["agg_theil_sen_slope"](spark, sf).collect()[0]
    assert got["slope_cents_per_unit"] == 250.0


# -- graph_random_walk_deterministic ------------------------------------------


def test_random_walk_replays_by_hand(spark, tmp_path):
    import hashlib

    # one cohort ring {0 -> 13 -> 26 -> 0}: each node has exactly ONE
    # out-neighbor, so the walk path is forced and fully checkable
    base = datetime.datetime(2024, 8, 1, 0, 0, 0)
    rows = []
    eid = 0
    for pos, u in enumerate((0, 13, 26)):
        for j in range(3):
            rows.append(
                (eid, base + datetime.timedelta(minutes=pos * 10 + j), u,
                 "a", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = _write(spark, tmp_path, "events", df)
    from engine.tableo import _RW_STEPS

    ring = {0: 13, 13: 26, 26: 0}
    got = {
        r["walk_id"]: (r["final_node"], r["path_checksum"])
        for r in QUERIES["graph_random_walk_deterministic"](spark, sf).collect()
    }
    for start in (0, 13, 26):  # all three are % 13 == 0
        node, ck = start, start
        for s in range(1, _RW_STEPS + 1):
            node = ring[node]  # deg == 1: hash % 1 == 0 always
            ck += (s + 1) * node
        assert got[start] == (node, ck), start
    assert set(got) == {0, 13, 26}


# -- win_allocation_waterfall -------------------------------------------------


def test_allocation_waterfall_clamps_in_ship_order(spark, tmp_path):
    ts = datetime.datetime
    # part 1: size 1 -> capacity 40; demand 25 + 25 + 10 in date order:
    # alloc 25, 15, 0 -> 2 short lines. part 2: never exhausted.
    part = spark.createDataFrame(
        [(1, "Brand#A", 1), (2, "Brand#B", 5)],
        "p_partkey long, p_brand string, p_size long",
    )
    li = spark.createDataFrame(
        [
            (1, ts(1998, 1, 1), 100, 1, 25.0),
            (1, ts(1998, 1, 2), 101, 1, 25.0),
            (1, ts(1998, 1, 3), 102, 1, 10.0),
            (2, ts(1998, 1, 1), 103, 1, 30.0),
        ],
        "l_partkey long, l_shipdate timestamp, l_orderkey long,"
        " l_linenumber long, l_quantity double",
    )
    sf = _write(spark, tmp_path, "part", part)
    _write(spark, tmp_path, "lineitem", li)
    got = {
        r["p_brand"]: (r["demand_qty"], r["allocated_qty"], r["n_short_lines"])
        for r in QUERIES["win_allocation_waterfall"](spark, sf).collect()
    }
    assert got == {"Brand#A": (60, 40, 2), "Brand#B": (30, 30, 0)}


# -- banded cohort graph (r9) -------------------------------------------------

def _banded_fixture(spark, tmp_path, n_users=12):
    """One cohort of n_users with distinct, increasing first_ts (user u's
    events start at minute 10*u), so cohort position == user order and
    the expected banded edge set is exactly {(u, v): 1 <= v - u <= 8}."""
    base = datetime.datetime(2024, 5, 1, 6, 0, 0)
    rows, eid = [], 0
    for u in range(1, n_users + 1):
        for j in range(3):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(minutes=10 * u + j),
                    u,
                    "a",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    return _write(spark, tmp_path, "events", df)


def test_banded_edges_are_exactly_the_band(spark, tmp_path):
    from engine.tableo import _BAND, _banded_cohort_edges

    sf = _banded_fixture(spark, tmp_path)
    got = {(r["u"], r["v"]) for r in _banded_cohort_edges(spark, sf).collect()}
    want = {
        (u, v)
        for u in range(1, 13)
        for v in range(1, 13)
        if 1 <= v - u <= _BAND
    }
    assert got == want
    # per-node degree bound inside one cohort: <= 2 * _BAND
    from collections import Counter

    deg = Counter()
    for u, v in got:
        deg[u] += 1
        deg[v] += 1
    assert max(deg.values()) <= 2 * _BAND


def test_banded_triangles_match_bruteforce(spark, tmp_path):
    from engine.tableo import _BAND

    sf = _banded_fixture(spark, tmp_path)
    edges = {
        (u, v)
        for u in range(1, 13)
        for v in range(1, 13)
        if 1 <= v - u <= _BAND
    }
    import itertools

    want = {}
    for a, b, c in itertools.combinations(range(1, 13), 3):
        if (a, b) in edges and (b, c) in edges and (a, c) in edges:
            for x in (a, b, c):
                want[x] = want.get(x, 0) + 1
    got = {
        r["user_id"]: r["n_triangles"]
        for r in QUERIES["graph_triangles_banded"](spark, sf).collect()
    }
    assert got == want


def test_ktruss_banded_equals_clique_peel_on_small_cohorts(spark, tmp_path):
    """Cohorts smaller than the band ARE cliques, so the banded peel
    must reproduce the clique peel's planted trajectory: the K4 cohort
    survives (each edge in 2 triangles), the K3 dies in round 1."""
    base = datetime.datetime(2024, 4, 1, 6, 0, 0)
    rows, eid = [], 0
    for users, typ in [((1, 2, 3, 4), "a"), ((5, 6, 7), "b")]:
        for u in users:
            for j in range(3):
                rows.append(
                    (eid, base + datetime.timedelta(minutes=eid), u, typ, 1.0, "{}")
                )
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = _write(spark, tmp_path, "events", df)
    from engine.tableo import _KT_CHECK_MULT

    k4_edges = [(u, v) for u in (1, 2, 3, 4) for v in (1, 2, 3, 4) if u < v]
    ck = sum(u * _KT_CHECK_MULT + v for u, v in k4_edges)
    traj = QUERIES["graph_ktruss_banded"](spark, sf).collect()
    assert [
        (r["round"], r["n_edges_before"], r["n_edges_after"], r["checksum_after"])
        for r in traj
    ] == [(1, 9, 6, ck), (2, 6, 6, ck), (3, 6, 6, ck)]
