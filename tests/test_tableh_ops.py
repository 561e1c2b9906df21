"""Planted-fixture and plan-shape tests for the Table H ops
(engine/tableh.py + sim_knn_graph): the oracle pre-flight proves
Spark ≡ DuckDB; these prove the shared semantics are the INTENDED ones
and that the plans keep their 100 TB shape."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from engine.registry import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def _write_sf(spark, tmp_path, table: str, df) -> str:
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    return sf_dir


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double",
    ).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        F.col("value"),
        F.lit("{}").alias("props"),
    )


WEEK_US = 604_800_000_000


def test_retention_cohort_planted(spark, tmp_path):
    # user 1: first active week 1000, returns weeks 1001 and 1003
    # user 2: first active week 1000 only
    # user 3: first active week 1001, returns week 1002
    rows = []
    eid = 0
    for user, weeks in ((1, (1000, 1001, 1003)), (2, (1000,)), (3, (1001, 1002))):
        for wk in weeks:
            rows.append((eid, wk * WEEK_US + 5, user, "view", 1.0))
            eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in QUERIES["win_retention_cohort"](spark, sf).collect()
    }
    assert got == {
        (1000, 0): 2,
        (1000, 1): 1,
        (1000, 3): 1,
        (1001, 0): 1,
        (1001, 1): 1,
    }


def test_anomaly_zscore_planted_spike(spark, tmp_path):
    # user 1: 30 noisy-but-tame values then one huge spike -> exactly
    # the spike flags; user 2: constant series -> sd = 0, never scored
    rows = []
    for i in range(30):
        rows.append((i, 1_700_000_000_000_000 + i * 1_000_000, 1, "m",
                     10.0 + (i % 5) * 0.1))
    rows.append((99, 1_700_000_000_000_000 + 99 * 1_000_000, 1, "m", 1000.0))
    for i in range(10):
        rows.append((200 + i, 1_700_000_000_000_000 + i * 1_000_000, 2, "m", 5.0))
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["user_id"]: r for r in QUERIES["ts_anomaly_zscore"](spark, sf).collect()}
    assert got[1]["n_anomalies"] == 1
    assert got[1]["n_events"] == 31
    assert got[2]["n_anomalies"] == 0
    assert got[2]["n_scored"] == 0 and got[2]["max_abs_z"] is None


def test_weighted_median_planted(spark, tmp_path):
    # group A: prices 1(w=1), 2(w=1), 3(w=8) -> total 10, half 5 ->
    # first price whose cum >= 5 is 3. Unweighted median would be 2.
    rows = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "O", 1_700_000_000_000_000),
        (2, 1, 1, 1, 1.0, 2.0, 0.0, 0.0, "A", "O", 1_700_000_000_000_000),
        (3, 1, 1, 1, 8.0, 3.0, 0.0, 0.0, "A", "O", 1_700_000_000_000_000),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, ts_us long",
    ).withColumn("l_shipdate", F.timestamp_micros("ts_us")).drop("ts_us")
    sf = _write_sf(spark, tmp_path, "lineitem", li)
    rows = QUERIES["agg_weighted_median"](spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["weighted_median_price"] == 3.0
    assert rows[0]["total_weight"] == 10.0


def test_weighted_median_bucket_drilldown_edges(spark, tmp_path):
    # The r13 histogram drill-down (bucket = floor(price/64)) must be
    # exact across its own seams: group A crosses tot/2 EXACTLY at the
    # last price of bucket 0 (cum == tot/2 at a bucket boundary);
    # group N's crossing price sits in a later bucket with nonzero
    # offset carried in from bucket 0; group R is single-bucket. Each
    # group lands in a DIFFERENT target bucket, exercising the OR'd
    # per-flag range predicate.
    def row(okey, qty, price, flag):
        return (okey, 1, 1, 1, float(qty), float(price), 0.0, 0.0, flag,
                "O", 1_700_000_000_000_000)

    rows = [
        # A: 10(w=5) in bucket 0, 100(w=5) in bucket 1 -> tot 10,
        # half 5, cum(10)=5 >= 5 -> median 10 (boundary crossing)
        row(1, 5, 10.0, "A"), row(2, 5, 100.0, "A"),
        # N: 10(w=4) bucket 0, 100(w=2) + 130(w=4) bucket 1 -> tot 10,
        # half 5, cum: 4, 6 -> median 100 with offset 4 from bucket 0
        row(3, 4, 10.0, "N"), row(4, 2, 100.0, "N"), row(5, 4, 130.0, "N"),
        # R: all in bucket 3 -> single-bucket, offset 0
        row(6, 1, 200.0, "R"), row(7, 3, 210.0, "R"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, ts_us long",
    ).withColumn("l_shipdate", F.timestamp_micros("ts_us")).drop("ts_us")
    sf = _write_sf(spark, tmp_path, "lineitem", li)
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_weighted_median"](spark, sf).collect()
    }
    assert got["A"]["weighted_median_price"] == 10.0
    assert got["A"]["total_weight"] == 10.0
    assert got["N"]["weighted_median_price"] == 100.0
    assert got["R"]["weighted_median_price"] == 210.0


def test_temperature_sample_flattens_distribution(spark, tmp_path):
    # 900 'en' vs 100 'zh': sqrt-weights 30 vs 10 -> targets 375/125 of
    # the 500-doc budget -> rates 375/900 and 1.0 (zh upsample capped).
    docs = [(i, f"t{i}", "en" if i < 900 else "zh", "s", 2) for i in range(1000)]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    got = {r["lang"]: r for r in QUERIES["pipeline_temperature_sample"](spark, sf).collect()}
    assert got["zh"]["rate"] == 1.0 and got["zh"]["n_kept"] == 100
    assert abs(got["en"]["rate"] - 375.0 / 900.0) < 1e-9
    # deterministic hash acceptance lands within a few % of the target
    assert abs(got["en"]["n_kept"] - 375) < 375 * 0.12


def test_bfs_paths_agree(spark, monkeypatch):
    """Driver (exact integer BFS) and distributed semi-naive paths must
    produce the identical level assignment on the same graph."""
    import engine.analytics as A

    drv = sorted(
        tuple(r) for r in QUERIES["graph_bfs_reachability"](spark, SF_SMOKE).collect()
    )
    monkeypatch.setattr(A, "GRAPH_DRIVER_EDGES", 0)
    dist = sorted(
        tuple(r) for r in QUERIES["graph_bfs_reachability"](spark, SF_SMOKE).collect()
    )
    assert drv == dist and drv


def test_bfs_levels_are_minimal(spark):
    """hop(n) must be the MINIMUM over seed distances: no reached node
    may have a neighbor whose hop is more than 1 smaller."""
    from engine.analytics import affinity_edges

    hops = {
        r["user_id"]: r["hop"]
        for r in QUERIES["graph_bfs_reachability"](spark, SF_SMOKE).collect()
    }
    edges = affinity_edges(spark, SF_SMOKE).collect()
    for e in edges:
        if e["src"] in hops and hops[e["src"]] < 3:
            assert hops.get(e["dst"], 99) <= hops[e["src"]] + 1


def test_knn_graph_shape_and_ordering(spark):
    rows = QUERIES["sim_knn_graph"](spark, SF_SMOKE).collect()
    assert rows
    per = {}
    for r in rows:
        per.setdefault(r["vec_id"], []).append((r["rnk"], r["cos"], r["neighbor_id"]))
        assert r["vec_id"] != r["neighbor_id"]
    for vid, lst in per.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= 3
        cosines = [x[1] for x in lst]
        assert cosines == sorted(cosines, reverse=True)


def test_zorder_buckets_are_rectangles(spark):
    """Each coarse z-range must cover a bounded box: the top-6 z bits
    fix bits 5..7 of both pk8 and sk8, so min/max span < 32 in BOTH
    dimensions — the property row-group skipping exploits."""
    rows = QUERIES["layout_zorder_cluster"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["pk_max"] - r["pk_min"] < 32, r
        assert r["sk_max"] - r["sk_min"] < 32, r


def test_binaryfile_roundtrips_content(spark):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    t = t.filter(pc.less(t["doc_id"], 16))
    want = {
        f"doc_{d:04d}.bin": (x or "").encode("utf-8")
        for d, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
    }
    got = {
        r["fname"]: bytes.fromhex(r["hex_content"])
        for r in QUERIES["scan_binaryfile"](spark, SF_SMOKE).collect()
    }
    assert got == want


# ---- plan gates ----------------------------------------------------------


def test_zscore_single_user_exchange(spark):
    # window and the per-user rollup share AT MOST one
    # hashpartitioning(user_id) exchange — the groupBy is co-partitioned
    # with the window (at smoke scale the single-partition scan already
    # satisfies the clustering and the exchange is elided entirely)
    p = _plan(spark, "ts_anomaly_zscore")
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) <= 1 and all("user_id" in ln for ln in ex), p


def test_temperature_sample_broadcasts_rates(spark):
    # the rate table comes back onto the corpus via broadcast — the
    # corpus never hash-shuffles for the join
    p = _plan(spark, "pipeline_temperature_sample")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_zorder_clusters_by_range(spark):
    p = _plan(spark, "layout_zorder_cluster")
    assert "rangepartitioning" in p.lower(), p


def test_weighted_median_collapses_before_window(spark):
    # partial+final aggregate pair collapses the fact to (flag, price)
    # BEFORE any window runs; the window sees the collapsed relation
    p = _plan(spark, "agg_weighted_median")
    assert p.count("HashAggregate") >= 2, p
    assert "Window" in p, p


def test_retention_single_fact_scan(spark):
    # the cached (user, week) relation feeds both consumers: exactly
    # one parquet scan of events in the whole plan
    p = _plan(spark, "win_retention_cohort")
    locs = [ln for ln in p.splitlines() if "Location:" in ln]
    assert len(locs) <= 1, p


def test_span_corruption_matches_independent_python(spark):
    """Recompute the span plan in plain Python from the spec — an
    independent implementation both engines must match."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    H, M, R = 2_654_435_761, 4_294_967_296, 20
    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    t = t.filter(pc.less(t["doc_id"], 50))
    want = {}
    for d, tx in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        toks = (tx or "").split(" ")
        n = len(toks)
        cond = [((d * 31 + i) * H) % M % R == 0 for i in range(1, n + 1)]
        mk = [
            cond[i - 1]
            or (i >= 2 and cond[i - 2])
            or (i >= 3 and cond[i - 3])
            for i in range(1, n + 1)
        ]
        spans = sum(
            1 for i in range(n) if mk[i] and (i == 0 or not mk[i - 1])
        )
        want[d] = (n, sum(mk), spans)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_masked"], r["n_spans"])
        for r in QUERIES["pipeline_span_corruption"](spark, SF_SMOKE).collect()
        if r["doc_id"] < 50
    }
    assert got == want


def test_degree_distribution_mass_conserves(spark):
    from engine.analytics import affinity_edges

    rows = QUERIES["graph_degree_distribution"](spark, SF_SMOKE).collect()
    edges = affinity_edges(spark, SF_SMOKE)
    n_edges = edges.count()
    n_srcs = edges.select("src").distinct().count()
    assert sum(r["out_degree"] * r["n_users"] for r in rows) == n_edges
    assert sum(r["n_users"] for r in rows) == n_srcs


def test_quantile_multi_planted_type7(spark, tmp_path):
    # values 0..99 -> type-7 interpolation: p25=24.75, p50=49.5,
    # p75=74.25, p90=89.1
    rows = [
        (i, 1_700_000_000_000_000 + i * 1_000_000, i % 5, "m", float(i))
        for i in range(100)
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = QUERIES["agg_quantile_multi"](spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["p25"], r["p50"], r["p75"], r["p90"]) == (24.75, 49.5, 74.25, 89.1)


def test_calendar_features_planted(spark, tmp_path):
    # 2024-01-01 is a Monday; plant one event Monday 00:xx UTC and two
    # on Sunday 23:xx UTC
    base = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch-us
    rows = [
        (1, base + 60_000_000, 1, "m", 10.0),
        (2, base - 3_600_000_000 + 1_000_000, 2, "m", 20.0),
        (3, base - 3_600_000_000 + 2_000_000, 3, "m", 30.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {
        (r["dow"], r["hr"]): (r["n_events"], r["avg_value"])
        for r in QUERIES["ts_calendar_features"](spark, sf).collect()
    }
    assert got == {(1, 0): (1, 10.0), (7, 23): (2, 25.0)}


def test_text_lines_roundtrip(spark):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    t = t.filter(pc.less(t["doc_id"], 200))
    want = sorted(
        (x or "").replace("\n", " ") for x in t["text"].to_pylist()
    )
    got = sorted(
        r["line"] for r in QUERIES["scan_text_lines"](spark, SF_SMOKE).collect()
    )
    assert got == want


def test_cdc_apply_planted_tombstones(spark, tmp_path):
    # user 1: two upserts -> latest value wins; user 2: upsert then
    # error -> tombstoned; user 3: error then upsert -> resurrected
    rows = [
        (1, 1_000_000, 1, "view", 1.0),
        (2, 2_000_000, 1, "click", 2.0),
        (3, 1_000_000, 2, "view", 9.0),
        (4, 2_000_000, 2, "error", 0.0),
        (5, 1_000_000, 3, "error", 0.0),
        (6, 2_000_000, 3, "purchase", 7.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["user_id"]: r for r in QUERIES["merge_cdc_apply"](spark, sf).collect()}
    assert set(got) == {1, 3}
    assert got[1]["last_value"] == 2.0 and got[1]["n_changes"] == 2
    assert got[3]["last_value"] == 7.0 and got[3]["n_changes"] == 2


def test_moments_planted_uniform(spark, tmp_path):
    # values 1..5: mean 3, m2 = 2, skew = 0, excess kurtosis = -1.3
    rows = [
        (i, 1_700_000_000_000_000 + i * 1_000_000, 1, "m", float(i + 1))
        for i in range(5)
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_moments_skew_kurtosis"](spark, sf).collect()[0]
    assert (r["mean"], r["m2"], r["skewness"], r["excess_kurtosis"]) == (
        3.0, 2.0, 0.0, -1.3,
    )


def test_bigram_lm_planted_addone(spark, tmp_path):
    # corpus: "a b", "a b", "a c" -> c(a b)=2, c(a c)=1, cleft(a)=3,
    # V={b,c}=2 -> p(a b)=3/5, p(a c)=2/5
    import math

    docs = [(1, "a b", "en", "s", 3), (2, "a b", "en", "s", 3),
            (3, "a c", "en", "s", 3)]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    got = {r["doc_id"]: r for r in QUERIES["text_bigram_lm"](spark, sf).collect()}
    assert got[1]["n_bigrams"] == 1
    assert abs(got[1]["cross_entropy"] - round(-math.log(0.6), 4)) < 1e-9
    assert abs(got[3]["cross_entropy"] - round(-math.log(0.4), 4)) < 1e-9


def test_cdc_single_key_exchange(spark):
    # rank + change-count share ONE hashpartitioning(user_id) exchange
    # (the count window needs every row, so a group-limit prune cannot
    # apply — one linear window pass per key is the right shape)
    p = _plan(spark, "merge_cdc_apply")
    ex = [ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) <= 1 and all("user_id" in ln for ln in ex), p


def test_moments_single_pass(spark):
    # all four power sums come from ONE partial+final aggregate pair
    p = _plan(spark, "agg_moments_skew_kurtosis")
    assert p.count("HashAggregate") >= 2, p
    assert len([ln for ln in p.splitlines() if "Location:" in ln]) == 1, p


def test_autocorr_planted_alternating(spark, tmp_path):
    # user 1 alternates 0/1 -> lag-1 autocorr = -1; user 2 constant -> NULL
    rows = [
        (i, 1_700_000_000_000_000 + i * 1_000_000, 1, "m", float(i % 2))
        for i in range(10)
    ] + [
        (100 + i, 1_700_000_000_000_000 + i * 1_000_000, 2, "m", 5.0)
        for i in range(5)
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["user_id"]: r for r in QUERIES["ts_autocorr_lag1"](spark, sf).collect()}
    assert got[1]["autocorr_lag1"] == -1.0 and got[1]["n_pairs"] == 9
    assert got[2]["autocorr_lag1"] is None


def test_tile_plan_planted_dims(spark, tmp_path):
    docs = [(0, "x", "en", "s", 1), (1, "x", "en", "s", 1)]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    rows = QUERIES["multimodal_tile_plan"](spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 16x16 -> 2x2 full tiles
    assert len(by_doc[0]) == 4
    assert all(r["tw"] == 8 and r["th"] == 8 for r in by_doc[0])
    # doc 1: 19x23 -> 3x3 grid, clipped right column (3) and top row (7)
    assert len(by_doc[1]) == 9
    edge = [r for r in by_doc[1] if r["tile_x"] == 2]
    assert all(r["tw"] == 3 for r in edge)
    edge_y = [r for r in by_doc[1] if r["tile_y"] == 2]
    assert all(r["th"] == 7 for r in edge_y)
    # tiles cover the image exactly once
    assert sum(r["tw"] * r["th"] for r in by_doc[1]) == 19 * 23


def test_semdedup_rep_is_argmax_and_mass_conserves(spark):
    """Independent recompute: for each cell the representative must be
    the (rounded-cos, -vec_id)-max member, and members sum to corpus."""
    from engine.kmeans import materialize_assignments, materialize_means

    reps = QUERIES["pipeline_semdedup_keep_central"](spark, SF_SMOKE).collect()
    asg_path = materialize_assignments(spark, SF_SMOKE)
    means_path, means = materialize_means(spark, SF_SMOKE)
    asg = {
        r["vec_id"]: r["cluster"]
        for r in spark.read.parquet(asg_path).collect()
    }
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        # half-away-from-zero on the scaled double — the engines'
        # shared ROUND semantics, not python banker's round()
        d = dot / (na * nb)
        return math.copysign(math.floor(abs(d) * 1e6 + 0.5), d) / 1e6

    best = {}
    count = {}
    for vid, cell in asg.items():
        c = cos([float(x) for x in emb[vid]], means[cell])
        count[cell] = count.get(cell, 0) + 1
        if cell not in best or (c, -vid) > (best[cell][0], -best[cell][1]):
            best[cell] = (c, vid)
    got = {r["cell"]: (r["rep_vec_id"], r["n_members"]) for r in reps}
    assert got == {cell: (vid, count[cell]) for cell, (c, vid) in best.items()}
    assert sum(r["n_members"] for r in reps) == len(asg)


def test_gini_planted_extremes(spark, tmp_path):
    # type A perfectly equal -> gini 0; type B one row holds nearly all
    rows = [
        (i, 1_700_000_000_000_000 + i * 1_000_000, 1, "A", 10.0)
        for i in range(10)
    ]
    rows += [
        (100 + i, 1_700_000_000_000_000 + i * 1_000_000, 1, "B", 0.0001)
        for i in range(99)
    ]
    rows.append((999, 1_700_000_000_000_000, 1, "B", 1_000_000.0))
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["event_type"]: r["gini"] for r in
           QUERIES["agg_gini_concentration"](spark, sf).collect()}
    assert got["A"] == 0.0
    assert got["B"] > 0.98


def test_oov_rate_planted_vocab_boundary(spark, tmp_path):
    # corpus vocabulary is exactly {common tokens}; rare tokens OOV.
    # with K=1000 and only 3 distinct tokens, nothing is OOV; force
    # coverage semantics instead on the rate arithmetic
    docs = [(1, "a a b", "en", "s", 5), (2, "a c", "en", "s", 3)]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    got = {r["doc_id"]: r for r in QUERIES["text_vocab_oov_rate"](spark, sf).collect()}
    assert got[1]["n_tokens"] == 3 and got[1]["n_oov"] == 0
    assert got[2]["oov_rate"] == 0.0


def test_jaccard_link_excludes_existing_edges(spark):
    # sf0.01: the smoke graph's ring cohorts are too small to leave any
    # non-adjacent 2-hop pair (empty result on both engines)
    from engine.analytics import affinity_edges
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["graph_jaccard_link_prediction"](spark, sf).collect()
    assert rows and all(0 < r["jaccard"] <= 1 for r in rows)
    edges = affinity_edges(spark, sf).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct().collect()
    existing = {(e["a"], e["b"]) for e in edges}
    for r in rows:
        assert (r["a"], r["b"]) not in existing
        assert r["a"] < r["b"]


def test_welch_planted_known_stat(spark, tmp_path):
    # view arm: [1..5] (m=3, var=2.5); purchase arm: [11..15] (m=13,
    # var=2.5) -> t = (3-13)/sqrt(0.5+0.5) = -10, df = 8
    rows = []
    for i in range(5):
        rows.append((i, 1_700_000_000_000_000 + i, 1, "view", float(i + 1)))
        rows.append((10 + i, 1_700_000_000_000_000 + i, 2, "purchase", float(i + 11)))
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_ab_test_welch"](spark, sf).collect()[0]
    assert (r["n_a"], r["n_b"]) == (5.0, 5.0)
    assert (r["mean_a"], r["mean_b"]) == (3.0, 13.0)
    assert r["t_stat"] == -10.0
    assert r["welch_df"] == 8.0


def test_chi_square_independent_is_zero(spark, tmp_path):
    # perfectly proportional table -> chi2 == 0: two event types, each
    # with the same per-day profile
    rows = []
    base = 1_704_067_200_000_000  # Monday
    eid = 0
    for day in range(3):
        for et, cnt in (("view", 4), ("click", 8)):
            for _ in range(cnt):
                rows.append((eid, base + day * 86_400_000_000 + eid, eid % 5, et, 1.0))
                eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_chi_square_independence"](spark, sf).collect()[0]
    assert r["n_cells"] == 6
    assert r["chi2"] == 0.0


def test_wow_change_planted(spark, tmp_path):
    # weeks 1000..1002 with counts 4, 8, 6 -> +1.0, -0.25; first week NULL
    rows = []
    eid = 0
    for wk, cnt in ((1000, 4), (1001, 8), (1002, 6)):
        for _ in range(cnt):
            rows.append((eid, wk * WEEK_US + eid, 1, "view", 1.0))
            eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["week"]: r for r in QUERIES["win_percent_change_wow"](spark, sf).collect()}
    assert got[1000]["wow_change"] is None
    assert got[1001]["wow_change"] == 1.0
    assert got[1002]["wow_change"] == -0.25


def test_log_bins_planted_boundaries(spark, tmp_path):
    # centi-exact boundaries: 0.01 -> 1 cent -> bin 0; 0.02 -> bin 1;
    # 1.28 -> 128 cents -> bin 7; 2.56 -> bin 8 (exact powers of two in
    # cents, the case a float-log bin would get wrong across engines)
    vals = [0.01, 0.02, 0.03, 1.28, 2.56]
    rows = [
        (i, 1_700_000_000_000_000 + i, 1, "m", v) for i, v in enumerate(vals)
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["log2_bin"]: r["n"] for r in QUERIES["agg_hist_log_bins"](spark, sf).collect()}
    assert got == {0: 1, 1: 2, 7: 1, 8: 1}


def test_csv_gzip_writes_gz_files(spark):
    import glob
    import os
    import shutil

    from engine.session import scratch_dir

    out = scratch_dir("csv_gzip")
    shutil.rmtree(out)  # only files this run writes may satisfy the glob
    QUERIES["scan_csv_gzip"](spark, SF_SMOKE).collect()
    assert glob.glob(os.path.join(out, "*.csv.gz"))


def test_attribution_planted_lookback(spark, tmp_path):
    D = 86_400_000_000
    base = 1_700_000_000_000_000
    rows = [
        # user 1: click 2 days before purchase -> attributed to click
        (1, base, 1, "click", 1.0),
        (2, base + 2 * D, 1, "purchase", 9.0),
        # user 2: view 8 days before purchase -> outside lookback -> none
        (3, base, 2, "view", 1.0),
        (4, base + 8 * D, 2, "purchase", 9.0),
        # user 3: view then click (closer) -> last touch = click
        (5, base, 3, "view", 1.0),
        (6, base + D, 3, "click", 1.0),
        (7, base + 2 * D, 3, "purchase", 9.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["touch"]: r["n_purchases"] for r in
           QUERIES["win_last_touch_attribution"](spark, sf).collect()}
    assert got == {"click": 2, "none": 1}


def test_wcc_sizes_mass_conserves(spark):
    from engine.analytics import affinity_edges
    from pyspark.sql import functions as F

    rows = QUERIES["graph_wcc_sizes"](spark, SF_SMOKE).collect()
    n_nodes = (
        affinity_edges(spark, SF_SMOKE)
        .filter(F.col("src") != F.col("dst"))
        .select(F.explode(F.array("src", "dst")).alias("u"))
        .distinct()
        .count()
    )
    assert sum(r["component_size"] * r["n_components"] for r in rows) == n_nodes


def test_spatial_eps_matches_brute_force(spark, tmp_path):
    """The grid-blocked pair count must equal the O(n²) brute force on
    a planted point set (including cross-cell neighbors)."""
    import math

    rows = []
    # points: clustered pairs straddling cell boundaries (eps = 4)
    vals = [1.0, 3.9, 4.1, 8.05, 100.0, 102.5, 250.0]
    for i, v in enumerate(vals):
        # single user: all points share y, so closeness is purely in x
        rows.append((i, 1_700_000_000_000_000 + i, 0, "m", v))
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["event_type"]: r["n_close_pairs"] for r in
           QUERIES["join_spatial_grid_eps"](spark, sf).collect()}
    pts = [(i, v, 0.0) for i, v in enumerate(vals)]
    want = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            d2 = (pts[i][1] - pts[j][1]) ** 2 + (pts[i][2] - pts[j][2]) ** 2
            if d2 <= 16.0:
                want += 1
    assert sum(got.values()) == want and want > 0


def test_equi_depth_buckets_are_balanced(spark):
    rows = QUERIES["agg_hist_equi_depth"](spark, SF_SMOKE).collect()
    assert [r["bucket"] for r in rows] == [0, 1, 2, 3]
    ns = [r["n"] for r in rows]
    tot = sum(ns)
    for n in ns:  # each quartile bucket holds 25% ± a tie margin
        assert abs(n - tot / 4) <= tot * 0.05
    # boundaries are ordered and non-overlapping
    for prev, nxt in zip(rows, rows[1:]):
        assert prev["hi"] <= nxt["lo"]


def test_shard_plan_budget_and_coverage(spark):
    import pyarrow.parquet as pq

    rows = QUERIES["pipeline_shard_plan"](spark, SF_SMOKE).collect()
    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["source", "text"])
    n_docs = t.num_rows
    total_tokens = sum(len((x or "").split(" ")) for x in t["text"].to_pylist())
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_tokens"] for r in rows) == total_tokens
    # every shard except a source's last stays within budget + one doc
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, shards in by_source.items():
        shards.sort(key=lambda r: r["shard_id"])
        for s in shards[:-1]:
            assert s["n_tokens"] >= 20_000 - 5_000  # near-full before rolling


def test_markov_rows_sum_to_one_and_pairs_conserve(spark, tmp_path):
    # user 1: A -> B -> A -> B ; user 2: A -> A
    rows = [
        (1, 1_000_000, 1, "A", 1.0), (2, 2_000_000, 1, "B", 1.0),
        (3, 3_000_000, 1, "A", 1.0), (4, 4_000_000, 1, "B", 1.0),
        (5, 1_000_000, 2, "A", 1.0), (6, 2_000_000, 2, "A", 1.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {(r["cur"], r["nxt"]): r for r in
           QUERIES["agg_markov_transitions"](spark, sf).collect()}
    assert got[("A", "B")]["n"] == 2 and got[("A", "A")]["n"] == 1
    assert got[("B", "A")]["n"] == 1
    assert abs(got[("A", "B")]["p"] - 2 / 3) < 1e-6
    # transition counts = total adjacent pairs
    assert sum(r["n"] for r in got.values()) == 4
    # each cur row's probabilities sum to ~1
    for cur in {"A", "B"}:
        ps = sum(r["p"] for (c, _), r in got.items() if c == cur)
        assert abs(ps - 1.0) < 1e-5


def test_incremental_dedup_counts(spark):
    import pyarrow.parquet as pq

    rows = QUERIES["pipeline_incremental_dedup"](spark, SF_SMOKE).collect()
    t = pq.read_table(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    seen = {
        (x or "").strip().lower()
        for d, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
        if d % 2 == 0
    }
    n_today = sum(1 for d in t["doc_id"].to_pylist() if d % 2 == 1)
    n_dup = sum(
        1
        for d, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
        if d % 2 == 1 and (x or "").strip().lower() in seen
    )
    assert sum(r["n_docs"] for r in rows) == n_today
    assert sum(r["n_already_seen"] for r in rows) == n_dup
    assert all(r["n_docs"] == r["n_already_seen"] + r["n_new"] for r in rows)


def test_threshold_sweep_monotone_and_anchored(spark):
    rows = QUERIES["pipeline_threshold_sweep"](spark, SF_SMOKE).collect()
    assert [r["threshold_bucket"] for r in rows] == list(range(10))
    kept = [r["n_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)  # monotone non-increasing
    assert rows[0]["frac_kept"] == 1.0  # threshold 0 keeps everything


def test_skew_report_orderkey_bounded(spark):
    got = {r["col"]: r for r in
           QUERIES["agg_join_key_skew_report"](spark, SF_SMOKE).collect()}
    assert set(got) == {"l_orderkey", "l_partkey", "l_suppkey"}
    # orderkey multiplicity is generator-bounded (small per-order fanout)
    assert got["l_orderkey"]["max_rows_one_key"] <= 20
    for r in got.values():
        assert r["max_to_mean"] >= 1.0


def test_assortativity_planted_star_is_negative(spark, tmp_path):
    # star graph: hub user meets 4 leaves in one cohort ring (all >= 3
    # events). A pure ring is degree-regular; instead check the REAL
    # op's invariant bounds on smoke data.
    rows = QUERIES["graph_assortativity"](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_edge_ends"] > 0
    if r["assortativity"] is not None:
        assert -1.0 <= r["assortativity"] <= 1.0


def test_step_detection_planted_spike(spark, tmp_path):
    D = 86_400_000_000
    base = 1_704_067_200_000_000
    rows = []
    eid = 0
    # type A: days (10, 10, 10, 100, 60) -> diffs (0, 0, +90, -40):
    # unique-|diff| argmax at 2024-01-04 (+90). (10 on the last day
    # would tie |+90| with |-90| — the documented argmax hazard.)
    for day, v in enumerate((10.0, 10.0, 10.0, 100.0, 60.0)):
        rows.append((eid, base + day * D, 1, "A", v)); eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = QUERIES["ts_step_detection"](spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r["step_size"] == 90.0 and r["n_days_compared"] == 4
    assert str(r["step_day"]).startswith("2024-01-04")


def test_psi_identical_halves_near_zero(spark, tmp_path):
    # identical halves -> PSI ~ 0 (exactly 0 with identical counts)
    docs = [(i, "w " * 40, "en", "s", 80) for i in range(200)]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    r = QUERIES["agg_psi_drift"](spark, sf).collect()[0]
    assert r["psi"] == 0.0


def test_psi_shifted_halves_positive(spark, tmp_path):
    # even docs short, odd docs long -> large PSI
    docs = []
    for i in range(200):
        text = "w " * (10 if i % 2 == 0 else 190)
        docs.append((i, text.strip(), "en", "s", len(text)))
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    r = QUERIES["agg_psi_drift"](spark, sf).collect()[0]
    assert r["psi"] > 1.0


def test_graph_consumers_read_materialized_edges(spark):
    # the edge list must come from the fingerprinted parquet, not be
    # rebuilt per query (the materialize_affinity_edges contract)
    # (graph_wcc_sizes is excluded: at smoke scale its adaptive CC takes
    # the driver union-find path, so the returned plan is a
    # LocalTableScan with no file scan at all)
    for key in ("graph_degree_distribution", "graph_assortativity",
                "graph_jaccard_link_prediction"):
        p = _plan(spark, key)
        locs = [ln for ln in p.splitlines() if "Location:" in ln]
        assert any(".scratch/affinity" in ln for ln in locs), (key, locs)
        # and the raw events fact must NOT be re-scanned
        assert not any("events.parquet" in ln for ln in locs), (key, locs)


def test_attribution_and_spatial_joins_stay_keyed(spark):
    # both ride equi keys (user_id / grid cell) with residual predicates
    # — never a cartesian or nested-loop join
    for key in ("win_last_touch_attribution", "join_spatial_grid_eps"):
        p = _plan(spark, key)
        assert "CartesianProduct" not in p, key
        assert "BroadcastNestedLoopJoin" not in p, key


def test_langid_confusion_diagonal_consistency(spark):
    """Matrix rows must sum to each actual lang's doc count and row
    fractions to ~1; diagonal mass equals text_langid's own accuracy."""
    rows = QUERIES["text_langid_confusion"](spark, SF_SMOKE).collect()
    preds = QUERIES["text_langid"](spark, SF_SMOKE).collect()
    from collections import Counter

    want = Counter((p["lang"], p["pred_lang"]) for p in preds)
    got = {(r["actual"], r["predicted"]): r["n"] for r in rows}
    assert got == dict(want)
    per_actual = {}
    for r in rows:
        per_actual.setdefault(r["actual"], 0.0)
        per_actual[r["actual"]] += r["row_frac"]
    for v in per_actual.values():
        assert abs(v - 1.0) < 1e-4


def test_trimmed_mean_ignores_planted_outlier(spark, tmp_path):
    # 99 values of 10 + one 1e9 outlier: raw mean explodes, trimmed
    # mean stays 10
    rows = [
        (i, 1_700_000_000_000_000 + i, 1, "m", 10.0) for i in range(99)
    ] + [(999, 1_700_000_000_000_000, 1, "m", 1e9)]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_trimmed_mean"](spark, sf).collect()[0]
    assert r["trimmed_mean"] == 10.0
    assert r["raw_mean"] > 1e6


def test_sorted_write_rowgroups_partition_keyspace(spark):
    """The written layout must actually enable pruning: row-group
    [min, max] ranges must be pairwise NON-OVERLAPPING across the
    whole dataset (each range query touches a contiguous run)."""
    rows = QUERIES["sink_sorted_clustered_write"](spark, SF_SMOKE).collect()
    assert rows
    spans = sorted((r["k_min"], r["k_max"]) for r in rows)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_lsh_recall_audit_bounds(spark):
    r = QUERIES["pipeline_lsh_recall_audit"](spark, SF_SMOKE).collect()[0]
    assert r["n_found"] <= r["n_truth"]
    if r["n_truth"]:
        # b=6,r=1 banding at s >= 0.7: P(miss) <= 0.3^6 ~ 7e-4 per pair
        assert r["recall"] >= 0.9


def test_ks_identical_arms_zero(spark, tmp_path):
    # identical view/purchase samples -> D = 0; disjoint -> D = 1
    rows = []
    eid = 0
    for arm in ("view", "purchase"):
        for v in (1.0, 2.0, 3.0):
            rows.append((eid, 1_700_000_000_000_000 + eid, 1, arm, v)); eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    assert QUERIES["agg_ks_statistic"](spark, sf).collect()[0]["ks_stat"] == 0.0
    rows = [(i, 1_700_000_000_000_000 + i, 1, "view", float(i + 1)) for i in range(3)]
    rows += [(10 + i, 1_700_000_000_000_000 + i, 1, "purchase", float(i + 100)) for i in range(3)]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    assert QUERIES["agg_ks_statistic"](spark, sf).collect()[0]["ks_stat"] == 1.0


def test_benford_digits_integer_exact(spark, tmp_path):
    # planted values whose cents are exact powers/edges: 0.01 -> digit 1,
    # 0.95 -> 9, 2.00 -> 2, 19.99 -> 1, 300.0 -> 3
    vals = [0.01, 0.95, 2.00, 19.99, 300.0]
    rows = [(i, 1_700_000_000_000_000 + i, 1, "m", v) for i, v in enumerate(vals)]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    got = {r["digit"]: r["n"] for r in QUERIES["agg_benford_first_digit"](spark, sf).collect()}
    assert got == {1: 2, 2: 1, 3: 1, 9: 1}


def test_peak_concurrency_planted_overlap(spark, tmp_path):
    S = 300_000_000  # session length in the op
    base = 1_700_000_000_000_000
    rows = [
        # three overlapping events inside one 5-min window -> peak 3,
        # then a fourth exactly at the first's close (half-open: the
        # close sorts first, so it does NOT overlap) -> still 3
        (1, base, 1, "A", 1.0),
        (2, base + 60_000_000, 2, "A", 1.0),
        (3, base + 120_000_000, 3, "A", 1.0),
        (4, base + S, 4, "A", 1.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["win_peak_concurrency"](spark, sf).collect()[0]
    assert r["peak_concurrency"] == 3


def test_char_entropy_extremes(spark, tmp_path):
    docs = [
        (1, "aaaaaaaaaa", "en", "s", 10),          # 1 symbol -> H = 0
        (2, "abcdefghij", "en", "s", 10),          # uniform 10 -> ln 10
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = _write_sf(spark, tmp_path, "documents", d)
    import math

    got = {r["doc_id"]: r for r in QUERIES["text_char_entropy"](spark, sf).collect()}
    assert got[1]["char_entropy"] == 0.0 and got[1]["n_distinct_chars"] == 1
    assert abs(got[2]["char_entropy"] - round(math.log(10), 4)) < 1e-9


def test_time_to_convert_planted(spark, tmp_path):
    H = 3_600_000_000
    base = 1_700_000_000_000_000
    rows = [
        # user 1: view then purchase 2h later -> converts in 2h
        (1, base, 1, "view", 1.0),
        (2, base + 2 * H, 1, "purchase", 9.0),
        # user 2: purchase BEFORE any view -> not a (view->purchase) convert
        (3, base, 2, "purchase", 9.0),
        (4, base + H, 2, "view", 1.0),
        # user 3: view only -> viewer, no conversion
        (5, base, 3, "view", 1.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["ts_time_to_convert"](spark, sf).collect()[0]
    assert r["n_viewers"] == 3 and r["n_converters"] == 1
    assert r["median_hours"] == 2.0
    assert abs(r["conversion_rate"] - 0.3333) < 1e-9


def test_reciprocity_bounds_and_symmetric_count(spark):
    r = QUERIES["graph_reciprocity"](spark, SF_SMOKE).collect()[0]
    assert 0 <= r["n_reciprocated"] <= r["n_directed_edges"]
    if r["reciprocity"] is not None:
        assert 0.0 <= r["reciprocity"] <= 1.0
    assert r["n_reciprocated"] % 2 == 0  # mutual pairs count both ways


def test_seasonality_strength_planted_pure_signal(spark, tmp_path):
    # values a pure function of hour -> R^2 == 1; constant noise-free
    # flat series with variance across hours only
    H = 3_600_000_000
    base = 1_704_067_200_000_000  # Monday 00:00
    rows = []
    eid = 0
    for rep in range(3):
        for hr in range(4):
            rows.append((eid, base + rep * 7 * 24 * H + hr * H, 1, "A",
                         10.0 * (hr + 1)))
            eid += 1
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_seasonality_strength"](spark, sf).collect()[0]
    assert r["seasonality_strength"] == 1.0


def test_mann_whitney_planted_separation(spark, tmp_path):
    # view = {1,2}, purchase = {3,4}: complete separation -> U = 0;
    # no ties -> var = na*nb*(N+1)/12 = 5/3, z = -2/sqrt(5/3)
    import math

    rows = [
        (1, 1_700_000_000_000_000, 1, "view", 1.0),
        (2, 1_700_000_000_000_001, 1, "view", 2.0),
        (3, 1_700_000_000_000_002, 1, "purchase", 3.0),
        (4, 1_700_000_000_000_003, 1, "purchase", 4.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_mann_whitney_u"](spark, sf).collect()[0]
    assert r["u_stat"] == 0.0
    assert abs(r["z_score"] - round(-2 / math.sqrt(5 / 3), 4)) < 1e-9


def test_ks_banded_planted_and_matches_exact(spark, tmp_path):
    # view = {1.00, 2.00}, purchase = {2.00, 3.00}: quantized ECDFs
    # differ by 0.5 at q=100 and q=200 -> D = 0.5. Data sit ON the
    # cents grid, so the banded statistic must equal the exact key's.
    rows = [
        (1, 1_700_000_000_000_000, 1, "view", 1.0),
        (2, 1_700_000_000_000_001, 1, "view", 2.0),
        (3, 1_700_000_000_000_002, 1, "purchase", 2.0),
        (4, 1_700_000_000_000_003, 1, "purchase", 3.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_ks_banded"](spark, sf).collect()[0]
    assert (r["n_a"], r["n_b"], r["ks_stat"]) == (2, 2, 0.5)
    exact = QUERIES["agg_ks_statistic"](spark, sf).collect()[0]
    assert r["ks_stat"] == exact["ks_stat"]


def test_mwu_banded_planted_ties_and_matches_exact(spark, tmp_path):
    # view = {1,2}, purchase = {2,3}: midranks 1, 2.5 | 2.5, 4 ->
    # ra = 3.5, U = 0.5; ties term = 6 -> var = 1.5,
    # z = -1.5/sqrt(1.5). On-grid data -> banded == exact.
    import math

    rows = [
        (1, 1_700_000_000_000_000, 1, "view", 1.0),
        (2, 1_700_000_000_000_001, 1, "view", 2.0),
        (3, 1_700_000_000_000_002, 1, "purchase", 2.0),
        (4, 1_700_000_000_000_003, 1, "purchase", 3.0),
    ]
    sf = _write_sf(spark, tmp_path, "events", _events_df(spark, rows))
    r = QUERIES["agg_mwu_banded"](spark, sf).collect()[0]
    assert (r["n_a"], r["n_b"], r["u_stat"]) == (2, 2, 0.5)
    assert abs(r["z_score"] - round(-1.5 / math.sqrt(1.5), 4)) < 1e-9
    exact = QUERIES["agg_mann_whitney_u"](spark, sf).collect()[0]
    assert (r["u_stat"], r["z_score"]) == (exact["u_stat"], exact["z_score"])


def test_banded_rank_stats_bucket_partitioned_windows(spark):
    # the banded twins' cumulative windows must run partitioned by the
    # range bucket -- never an unpartitioned global sort over the
    # distinct-value relation (the exact keys' documented weakness)
    for key in ("agg_ks_banded", "agg_mwu_banded"):
        p = _plan(spark, key)
        assert "hashpartitioning(bucket" in p, (key, p)
        assert "windowspecdefinition(bucket" in p, (key, p)


def test_knn_graph_hot_cell_split(spark, monkeypatch):
    """Pin the r9 hot-cell split (similarity.py): cells larger than
    _KNN_CELL_TARGET split on vec_id % ceil(size/target), bounding the
    within-cell self-join at O(size·target). Two directions: (a) with
    the default target no SF_SMOKE cell splits, so the key must equal a
    brute-force within-cell top-3 computed here (the oracle can't catch
    a rule both engines implement identically wrong); (b) with a tiny
    target the split must ENGAGE, and every emitted neighbor must share
    the sub-cell as well as the cell."""
    import math
    from collections import Counter

    import engine.similarity as S
    from engine.kmeans import materialize_assignments

    asg = {
        r["vec_id"]: r["cluster"]
        for r in spark.read.parquet(
            materialize_assignments(spark, SF_SMOKE)
        ).collect()
    }
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    sizes = Counter(asg.values())

    def brute(split):
        import itertools

        out = {}
        for v, cell in asg.items():
            s = max(1, math.ceil(sizes[cell] / split))
            cands = [
                u
                for u, c in asg.items()
                if c == cell and u != v and u % s == v % s
            ]
            scored = []
            for u in cands:
                dot = sum(a * b for a, b in zip(emb[v], emb[u]))
                na = math.sqrt(sum(a * a for a in emb[v]))
                nb = math.sqrt(sum(b * b for b in emb[u]))
                scored.append((round(dot / (na * nb) * 1e6) / 1e6, u))
            scored.sort(key=lambda t: (-t[0], t[1]))
            for rnk, (cos, u) in enumerate(scored[:3], 1):
                out[(v, u)] = (rnk, cos)
        return out

    # (a) default target: no split at SF_SMOKE; exact equality
    assert max(sizes.values()) < S._KNN_CELL_TARGET
    got = {
        (r["vec_id"], r["neighbor_id"]): (r["rnk"], r["cos"])
        for r in QUERIES["sim_knn_graph"](spark, SF_SMOKE).collect()
    }
    assert got == brute(S._KNN_CELL_TARGET)

    # (b) tiny target: the split must engage and confine neighbors
    monkeypatch.setattr(S, "_KNN_CELL_TARGET", 8)
    split = {c: max(1, math.ceil(n / 8)) for c, n in sizes.items()}
    assert max(split.values()) > 1
    rows = QUERIES["sim_knn_graph"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        ca, cb = asg[r["vec_id"]], asg[r["neighbor_id"]]
        assert ca == cb
        assert r["vec_id"] % split[ca] == r["neighbor_id"] % split[ca]
    assert {
        (r["vec_id"], r["neighbor_id"]): (r["rnk"], r["cos"]) for r in rows
    } == brute(8)
