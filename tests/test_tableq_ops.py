"""Planted-fixture and plan-shape tests for the Table Q ops
(engine/tableq.py): hand-computed Adamic-Adar wedges, a two-layout
partition-evolution roundtrip with pruning gates, md5-verifiable
balanced-sample membership, a zero-delta stylometry twin pair, and a
hand-traced BPE merge application."""

from __future__ import annotations

import datetime
import hashlib
import io
import math
from contextlib import redirect_stdout

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


def _write(spark, tmp_path, table, df) -> str:
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


# -- graph_adamic_adar_link_prediction ---------------------------------------


def test_adamic_adar_ring_hand_computed(spark, tmp_path):
    # one cohort ring 1-2-3-4-1 (undirected simple edges); non-edges
    # (1,3) and (2,4) each have BOTH other nodes as common neighbors,
    # every node has degree 2
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
    out = QUERIES["graph_adamic_adar_link_prediction"](spark, sf).collect()
    got = {(r["a"], r["b"]): (r["n_common"], r["aa_units"]) for r in out}
    unit = round(1_000_000_000 / math.log(2))
    assert got == {(1, 3): (2, 2 * unit), (2, 4): (2, 2 * unit)}


# -- scan_partition_evolution ------------------------------------------------


def test_partition_evolution_roundtrip_values(spark, tmp_path):
    rows = [
        (1, D(1996, 3, 5), 10.0),
        (2, D(1996, 3, 20), 20.0),
        (3, D(1996, 4, 1), 99.0),   # other month, monthly layout
        (4, D(1997, 3, 2), 40.0),
        (5, D(1997, 3, 30), 50.0),
        (6, D(1997, 7, 1), 99.0),   # other month, daily layout
        (7, D(1999, 1, 1), 99.0),   # outside both written regimes
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    got = {
        r["month"]: (r["n_orders"], r["revenue_cents"])
        for r in QUERIES["scan_partition_evolution"](spark, sf).collect()
    }
    assert got == {"1996-03": (2, 3000), "1997-03": (2, 9000)}


def test_partition_evolution_prunes_both_layouts(spark):
    plan = _plan(spark, "scan_partition_evolution")
    # exact-month equality prunes the monthly layout; the month PREFIX
    # (StartsWith) prunes the daily layout — both must reach the scans
    assert plan.count("PartitionFilters: [isnotnull(month_str") >= 1
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*StartsWith\([^\]]*day_str", plan)


# -- sample_balanced_downsample ----------------------------------------------


def test_balanced_downsample_caps_and_membership(spark, tmp_path):
    rows = [(i, "aa", 10) for i in range(40)] + [
        (100 + i, "bb", 7) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    sf = _write(spark, tmp_path, "documents", df)
    got = {
        r["lang"]: (r["n_sampled"], r["sampled_chars"], r["member_checksum"])
        for r in QUERIES["sample_balanced_downsample"](spark, sf).collect()
    }
    # undersized class passes through whole
    assert got["bb"] == (5, 35, sum(range(100, 105)))

    # oversized class: exactly the 30 smallest by the md5 priority
    def h(doc_id: int) -> int:
        return int(hashlib.md5(f"bal:{doc_id}".encode()).hexdigest()[:15], 16)

    picked = sorted(range(40), key=lambda d: (h(d), d))[:30]
    assert got["aa"] == (30, 300, sum(picked))


# -- text_burrows_delta ------------------------------------------------------


def test_burrows_delta_identical_sources_score_zero(spark, tmp_path):
    rows = [
        (1, "alpha beta beta gamma", "twin1"),
        (2, "alpha beta beta gamma", "twin2"),
        (3, "gamma gamma gamma delta", "odd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sf = _write(spark, tmp_path, "documents", df)
    out = QUERIES["text_burrows_delta"](spark, sf).collect()
    # the identical pair ranks first with delta exactly 0
    assert (out[0]["src_a"], out[0]["src_b"]) == ("twin1", "twin2")
    assert out[0]["delta_units"] == 0
    # every pair scores over the same top-K dictionary
    assert len({r["n_tokens"] for r in out}) == 1
    assert all(
        r["delta_units"] > 0 for r in out[1:]
    ), "odd source must differ from both twins"


# -- text_bpe_apply ----------------------------------------------------------


def test_bpe_apply_hand_traced_merges(spark, tmp_path):
    docs = [(i, "abab abab") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sf = _write(spark, tmp_path, "documents", df)
    out = {r["symbol"]: r["cnt"] for r in QUERIES["text_bpe_apply"](spark, sf).collect()}
    # initial pairs per token 'a b a b': 'a b'×2, 'b a'×1 → merges
    # p1='a b'→'ab', p2='b a'→'ba'; "a b a b" → "ab ab" → "abab"
    assert out == {"abab": 10}


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract)
# --------------------------------------------------------------------------

_TABLEQ_KEYS = (
    "graph_adamic_adar_link_prediction",
    "scan_partition_evolution",
    "sample_balanced_downsample",
    "text_burrows_delta",
    "text_bpe_apply",
)


def test_tableq_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLEQ_KEYS)


def test_tableq_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLEQ_KEYS)
