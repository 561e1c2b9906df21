"""Planted-fixture and plan-shape tests for the Table M ops
(engine/tablem.py). The oracle pre-flight (test_oracle.py) proves
Spark ≡ DuckDB on the shipped testdata; these prove the intended
SEMANTICS on corpora built to expose them (known quantiles, known
decay sums, known permutations, known diffs, known tombstones) and
the 100 TB plan shape (no single-partition fact windows)."""

from __future__ import annotations

import hashlib
import io
import math
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.registry import all_queries
from engine.tablem import _HDR_M, _SHUF_SEED, _SHUF_SHARD

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


# -- agg_hdr_histogram_quantiles -------------------------------------------


def _li_df(spark, prices):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)],
        "l_orderkey long, l_extendedprice double",
    )


def test_hdr_quantiles_bounded_relative_error(spark, tmp_path):
    # heavy-tailed planted prices: estimates must stay within the
    # log-linear bucket bound 1/(2m) of the exact quantile
    prices = [float(1 + (i * 37) % 1000) * 1.37 for i in range(2000)]
    sf = _write(spark, tmp_path, "lineitem", _li_df(spark, prices))
    rows = QUERIES["agg_hdr_histogram_quantiles"](spark, sf).collect()
    assert [r["q"] for r in rows] == [0.5, 0.9, 0.95, 0.99]
    for r in rows:
        rel = abs(r["est_price"] - r["exact_price"]) / r["exact_price"]
        assert rel <= 1.0 / (2 * _HDR_M) + 1e-6, (r, rel)


def test_hdr_exact_twin_is_true_percentile(spark, tmp_path):
    prices = [float(v) for v in range(1, 101)]  # exact quantiles known
    sf = _write(spark, tmp_path, "lineitem", _li_df(spark, prices))
    rows = {r["q"]: r for r in QUERIES["agg_hdr_histogram_quantiles"](spark, sf).collect()}
    # linear interpolation at h = (n-1)q over 1..100
    assert rows[0.5]["exact_price"] == 50.5
    assert abs(rows[0.9]["exact_price"] - 90.1) < 1e-9


# -- win_ewma_irregular ----------------------------------------------------


def test_ewma_irregular_matches_analytic_decay(spark, tmp_path):
    # irregular gaps, multiple hour buckets, one key — brute-force
    # Σ v_j·exp(-Δt/τ) must match to quantization tolerance
    base = 1_700_000_000
    evs = [
        (1, base + 0, "a", 10.0),
        (2, base + 600, "a", 20.0),
        (3, base + 3599, "a", 5.0),
        (4, base + 7300, "a", 7.0),  # skips an hour bucket entirely
        (5, base + 90000, "a", 3.0),  # next day: carry ~ fully decayed
    ]
    df = spark.createDataFrame(
        [
            (eid, ts * 1_000_000, uid, "a", v)
            for eid, ts, uid, v in [(e[0], e[1], 1, e[3]) for e in evs]
        ],
        "event_id long, ts_us long, user_id long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    sf = _write(spark, tmp_path, "events", df)
    got = {
        r["event_id"]: r["decayed_sum"]
        for r in QUERIES["win_ewma_irregular"](spark, sf).collect()
    }
    for i, (eid, t_i, _, _) in enumerate(evs):
        want = sum(
            v * math.exp(-(t_i - t_j) / 3600.0)
            for _, t_j, _, v in evs[: i + 1]
        )
        assert abs(got[eid] - want) < 1e-3 + 1e-4 * abs(want), (eid, got[eid], want)


def test_ewma_irregular_keys_are_independent(spark, tmp_path):
    base = 1_700_000_000
    rows = [
        (1, base, 1, "a", 100.0),
        (2, base + 1, 1, "b", 1.0),  # other key: must not see a's 100
    ]
    df = spark.createDataFrame(
        [(eid, ts * 1_000_000, uid, et, v) for eid, ts, uid, et, v in rows],
        "event_id long, ts_us long, user_id long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    sf = _write(spark, tmp_path, "events", df)
    got = {
        r["event_id"]: r["decayed_sum"]
        for r in QUERIES["win_ewma_irregular"](spark, sf).collect()
    }
    # up/down grid quantization (1e-6 each) leaves ~1e-4 wobble after
    # the 4-decimal output rounding
    assert abs(got[2] - 1.0) < 3e-4


# -- pipeline_seeded_shuffle -----------------------------------------------


def _shuffle_positions(doc_ids):
    def h(d):
        return int(
            hashlib.md5(f"{_SHUF_SEED}{d}".encode()).hexdigest()[:15], 16
        )

    ordered = sorted(doc_ids, key=lambda d: (h(d), d))
    return {d: i for i, d in enumerate(ordered)}


def test_seeded_shuffle_is_the_md5_permutation(spark, tmp_path):
    docs = [(i, f"t{i}", "en", "web", 2) for i in range(200)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write(spark, tmp_path, "documents", df)
    pos = _shuffle_positions([d[0] for d in docs])
    want = {}
    for d, p in pos.items():
        s = p // _SHUF_SHARD
        acc = want.setdefault(s, [0, 10**9, -1, 0])
        acc[0] += 1
        acc[1] = min(acc[1], p)
        acc[2] = max(acc[2], p)
        acc[3] += p * d
    got = {
        r["shard_id"]: r
        for r in QUERIES["pipeline_seeded_shuffle"](spark, sf).collect()
    }
    assert set(got) == set(want)
    for s, (n, lo, hi, ck) in want.items():
        r = got[s]
        assert (r["n_docs"], r["min_pos"], r["max_pos"], r["checksum"]) == (
            n,
            lo,
            hi,
            ck,
        ), s


def test_seeded_shuffle_no_single_partition_exchange(spark):
    """The global-rank assignment must ride the bucketed offset-merge
    (hash-range buckets from the top hash bits), never one task."""
    p = _plan(spark, "pipeline_seeded_shuffle")
    assert "SinglePartition" not in p, p
    assert "hashpartitioning(bucket" in p, p


# -- pipeline_dataset_diff -------------------------------------------------


def test_dataset_diff_statuses(spark, tmp_path):
    # keys chosen to hit every branch of the v1/v2 projections:
    # 3  -> dropped from v1 (key%10==3)  => added
    # 5  -> dropped from v2 (key%11==5)  => removed
    # 7, 14 -> price bumped in v2 (key%7==0) => changed
    # 1, 2 -> identical both sides       => unchanged
    rows = [
        (1, "O", 100.0),
        (2, "F", 200.0),
        (3, "O", 300.0),
        (5, "F", 500.0),
        (7, "O", 700.0),
        (14, "F", 1400.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    got = {
        r["status"]: (r["n_rows"], r["key_checksum"])
        for r in QUERIES["pipeline_dataset_diff"](spark, sf).collect()
    }
    assert got == {
        "added": (1, 3),
        "removed": (1, 5),
        "changed": (2, 21),
        "unchanged": (2, 3),
    }


# -- scan_manifest_vacuum_plan ---------------------------------------------


def test_vacuum_plan_only_tombstoned_file(spark, tmp_path):
    rows = [(k, k, "O", 100.0 * (k + 1), "1995-01-01", "1-URGENT") for k in range(8)]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    sf = _write(spark, tmp_path, "orders", df)
    out = QUERIES["scan_manifest_vacuum_plan"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    # part-1 holds keys {1, 5} (key % 4 == 1); added v0, tombstoned v1
    assert r["file"] == "part-1.parquet"
    assert r["removed_at_version"] == 1
    assert r["reclaimed_rows"] == 2


# -- scan_delete_vectors_apply ---------------------------------------------


def test_delete_vectors_match_planted_expectation(spark, tmp_path):
    """Plant 60 orders with known keys/statuses/prices, recompute the
    merge-on-read result with an INDEPENDENT pure-python walk of the
    fixture's contract (keys % 3 → file, ordinals % 7 == 3 deleted in
    parts 0 and 2, part 1 untouched), and require the Spark scan to
    agree on live/deleted counts and exact live cents per status."""
    rows = [
        (i, "AB"[i % 2], float(100 + 7 * i) + 0.25)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)

    exp = {}  # status -> [n_live, n_deleted, live_cents]
    for part in range(3):
        part_rows = [r for r in rows if r[0] % 3 == part]
        dead = set(range(3, len(part_rows), 7)) if part != 1 else set()
        for pos, (_, st, price) in enumerate(part_rows):
            e = exp.setdefault(st, [0, 0, 0])
            if pos in dead:
                e[1] += 1
            else:
                e[0] += 1
                e[2] += round(price * 100)

    got = QUERIES["scan_delete_vectors_apply"](spark, sf).collect()
    assert {
        r["o_orderstatus"]: [r["n_live"], r["n_deleted"], r["live_cents"]]
        for r in got
    } == exp
    assert sum(v[1] for v in exp.values()) > 0  # the DV actually bit


def test_delete_vectors_join_is_broadcast(spark):
    plan = _plan(spark, "scan_delete_vectors_apply")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract): double-run byte-identical
# and invariant to spark.sql.shuffle.partitions
# --------------------------------------------------------------------------

_TABLEM_KEYS = (
    "agg_hdr_histogram_quantiles",
    "win_ewma_irregular",
    "pipeline_seeded_shuffle",
    "pipeline_dataset_diff",
    "scan_manifest_vacuum_plan",
    "stream_rate_micro_batch",
    "scan_delete_vectors_apply",
)


def test_tablem_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLEM_KEYS)


def test_tablem_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLEM_KEYS)
