"""Planted-fixture and plan-shape tests for the Table N ops
(engine/tablen.py). The oracle pre-flight (test_oracle.py) proves
Spark ≡ DuckDB on the shipped testdata; these prove the intended
SEMANTICS on corpora built to expose them (hand-computed z-scores,
known bin boundaries, known shrinkage, known hash buckets, known
typo provenance) and the 100 TB plan shape."""

from __future__ import annotations

import hashlib
import io
import math
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.registry import all_queries
from engine.tablen import _BIN_B, _FZ_TITLE, _HT_DIM, _SCALE_SAMPLE, _TE_M

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


# -- feat_standard_scale ---------------------------------------------------


def test_standard_scale_matches_hand_computation(spark, tmp_path):
    # 6 rows in one group; stats come from ALL rows, outputs only for
    # the sampled keys (multiples of the sample prime)
    prices = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    rows = [
        (k, 1, "A", p)
        for k, p in zip([0, 1, 2, _SCALE_SAMPLE, 4, 5], prices)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_returnflag string,"
        " l_extendedprice double",
    )
    sf = _write(spark, tmp_path, "lineitem", df)
    got = {
        (r["l_orderkey"], r["l_linenumber"]): (r["z"], r["mm"], r["n_grp"])
        for r in QUERIES["feat_standard_scale"](spark, sf).collect()
    }
    assert set(got) == {(0, 1), (_SCALE_SAMPLE, 1)}

    cents = [round(p * 100) for p in prices]
    n, s = len(cents), sum(cents)
    num = n * sum(c * c for c in cents) - s * s
    for key, price in [(0, 10.0), (_SCALE_SAMPLE, 40.0)]:
        c = round(price * 100)
        z_exp = round((c * n - s) / math.sqrt(num) * 1e6) / 1e6
        mm_exp = round((c - min(cents)) / (max(cents) - min(cents)) * 1e6) / 1e6
        z, mm, n_grp = got[(key, 1)]
        assert (z, mm, n_grp) == (z_exp, mm_exp, n), key


def test_standard_scale_stats_join_is_broadcast(spark):
    plan = _plan(spark, "feat_standard_scale")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# -- feat_quantile_bin -----------------------------------------------------


def test_quantile_bin_equal_depth_on_distinct_values(spark, tmp_path):
    # 100 distinct prices 1..100 -> 10 bins of exactly 10, boundaries
    # at the exact decile cut points
    df = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(100)],
        "o_orderkey long, o_totalprice double",
    )
    sf = _write(spark, tmp_path, "orders", df)
    rows = QUERIES["feat_quantile_bin"](spark, sf).collect()
    assert [r["bin"] for r in rows] == list(range(_BIN_B))
    for i, r in enumerate(rows):
        assert r["n_rows"] == 10
        assert r["lo_cents"] == (i * 10 + 1) * 100
        assert r["hi_cents"] == (i * 10 + 10) * 100


def test_quantile_bin_ties_split_deterministically(spark, tmp_path):
    # all rows share one price: rank order falls back to o_orderkey,
    # bins still exactly equal depth and the split is reproducible
    df = spark.createDataFrame(
        [(i, 5.0) for i in range(40)], "o_orderkey long, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    a = QUERIES["feat_quantile_bin"](spark, sf).collect()
    b = QUERIES["feat_quantile_bin"](spark, sf).collect()
    assert a == b
    assert [r["n_rows"] for r in a] == [4] * _BIN_B
    assert all(r["lo_cents"] == r["hi_cents"] == 500 for r in a)


def test_quantile_bin_no_single_partition_exchange(spark):
    assert "SinglePartition" not in _plan(spark, "feat_quantile_bin")


# -- feat_target_encode ----------------------------------------------------


def test_target_encode_shrinks_toward_global_prior(spark, tmp_path):
    # tiny category far from the prior must shrink hard; huge category
    # barely moves — both against the closed-form formula
    rows = [(i, "BIG", 10.0) for i in range(1000)] + [
        (1000 + i, "TINY", 1000.0) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    sf = _write(spark, tmp_path, "orders", df)
    got = {
        r["o_orderpriority"]: r
        for r in QUERIES["feat_target_encode"](spark, sf).collect()
    }
    gn = 1005
    gs = 1000 * 1000 + 5 * 100000
    for cat, n, s in [("BIG", 1000, 1000 * 1000), ("TINY", 5, 5 * 100000)]:
        exp = round((s * gn + _TE_M * gs) / (gn * (n + _TE_M)) * 1e4) / 1e4
        assert got[cat]["smoothed_cents"] == exp, cat
        assert got[cat]["raw_mean_cents"] == round(s / n * 1e4) / 1e4
    # shrinkage direction: TINY pulled far toward prior, BIG barely
    prior = gs / gn
    assert abs(got["TINY"]["smoothed_cents"] - prior) < abs(
        100000 - prior
    ) * 0.1
    assert abs(got["BIG"]["smoothed_cents"] - 1000) < 0.1 * abs(prior - 1000)


# -- feat_hashing_trick ----------------------------------------------------


def _bucket(tok: str) -> int:
    return int(hashlib.md5(f"ht:{tok}".encode()).hexdigest()[:15], 16) % _HT_DIM


def test_hashing_trick_buckets_and_collision_audit(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "alpha alpha beta"), (1, "alpha gamma"), (2, "beta beta beta")],
        "doc_id long, text string",
    )
    sf = _write(spark, tmp_path, "documents", df)
    rows = QUERIES["feat_hashing_trick"](spark, sf).collect()
    exp_counts = {"alpha": 3, "beta": 4, "gamma": 1}
    buckets = {}
    for tok, n in exp_counts.items():
        b = buckets.setdefault(_bucket(tok), {})
        b[tok] = n
    exp = {
        bk: (
            sum(toks.values()),
            len(toks),
            sorted(toks.items(), key=lambda kv: (-kv[1], kv[0]))[0][0],
        )
        for bk, toks in buckets.items()
    }
    got = {
        r["bucket"]: (r["total_count"], r["n_tokens"], r["top_token"])
        for r in rows
    }
    assert got == exp
    # ranked by total count desc
    totals = [r["total_count"] for r in rows]
    assert totals == sorted(totals, reverse=True)


# -- join_fuzzy_blocked ----------------------------------------------------


def test_fuzzy_join_recovers_all_planted_typos(spark, tmp_path):
    # distinct high-entropy titles: every dirty row must match its own
    # source at distance exactly 1, regardless of deletion position
    # (doc_ids chosen to sweep prefix-, middle-, and suffix-deletions)
    import random

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(60)))
        for i in [0, 3, 7, 8, 20, 33, 38, 39, 41, 77]
    ]
    docs.append((100, "short text"))  # < 40 chars: excluded entirely
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sf = _write(spark, tmp_path, "documents", df)
    rows = {r["dist"]: r for r in QUERIES["join_fuzzy_blocked"](spark, sf).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_matched"] == 10
    assert rows[1]["n_correct"] == 10


def test_fuzzy_join_duplicate_titles_still_count_correct(spark, tmp_path):
    # two docs share a title: whichever candidate wins the (dist, id)
    # tie-break, the match is correct BY TITLE
    t = "the quick brown fox jumps over the lazy dog again".ljust(40)[:40]
    df = spark.createDataFrame(
        [(0, t + " tail"), (40, t + " tail")], "doc_id long, text string"
    )
    sf = _write(spark, tmp_path, "documents", df)
    rows = {r["dist"]: r for r in QUERIES["join_fuzzy_blocked"](spark, sf).collect()}
    assert rows[1]["n_matched"] == 2
    assert rows[1]["n_correct"] == 2


# --------------------------------------------------------------------------
# determinism audits (the Table I/J contract): double-run byte-identical
# and invariant to spark.sql.shuffle.partitions
# --------------------------------------------------------------------------

_TABLEN_KEYS = (
    "feat_standard_scale",
    "feat_quantile_bin",
    "feat_target_encode",
    "feat_hashing_trick",
    "join_fuzzy_blocked",
)


def test_tablen_double_run_identical(spark):
    assert_double_run_identical(spark, _TABLEN_KEYS)


def test_tablen_partition_count_invariant(spark):
    assert_partition_count_invariant(spark, _TABLEN_KEYS)
