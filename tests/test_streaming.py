"""Streaming-semantics tests (SURVEY.md §5.2 layer 3): replayed streams
must agree with their batch forms; watermark behavior must be visible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.registry import all_queries
from engine.session import T

from .conftest import SF_SMOKE

QUERIES = all_queries()


def test_stateful_count_equals_batch(spark):
    stream = {
        r["user_id"]: r["cnt"]
        for r in QUERIES["stream_stateful_count"](spark, SF_SMOKE).collect()
    }
    batch = {
        r["user_id"]: r["cnt"]
        for r in T(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stream == batch


def test_dedup_watermark_equals_distinct(spark):
    stream = {
        r["event_type"]: r["cnt"]
        for r in QUERIES["stream_dedup_watermark"](spark, SF_SMOKE).collect()
    }
    batch = {
        r["event_type"]: r["cnt"]
        for r in T(spark, SF_SMOKE, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stream == batch


def test_watermark_late_is_batch_subset_with_drops(spark):
    """Append-mode windows are a subset of batch tumbling counts: equal
    for early finalized windows except where the late sample was
    dropped; never larger; tail windows (watermark not passed) absent."""
    stream = {
        (r["window_start_us"], r["event_type"]): r["cnt"]
        for r in QUERIES["stream_watermark_late"](spark, SF_SMOKE).collect()
    }
    batch = {
        (r["window_start_us"], r["event_type"]): r["cnt"]
        for r in QUERIES["stream_tumbling"](spark, SF_SMOKE).collect()
    }
    assert stream, "no windows finalized"
    for k, cnt in stream.items():
        assert k in batch, f"stream emitted unknown window {k}"
        assert cnt <= batch[k], f"stream count exceeds batch for {k}"
    # the late 5% sample (event_id%20==0) guarantees at least one window
    # where the dropped-late count is visible
    assert any(cnt < batch[k] for k, cnt in stream.items())
    # windows not yet past the watermark must not have been emitted
    assert len(stream) < len(batch)


def test_session_window_batch_matches_gaps_and_islands(spark):
    """Both session formulations already hash-match DuckDB; here assert
    the structural invariant: sessions partition each user's events."""
    sess = QUERIES["stream_session"](spark, SF_SMOKE)
    per_user_sess = {
        r["user_id"]: r["total"]
        for r in sess.groupBy("user_id").agg(F.sum("cnt").alias("total")).collect()
    }
    per_user_batch = {
        r["user_id"]: r["total"]
        for r in T(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("total"))
        .collect()
    }
    assert per_user_sess == per_user_batch


def test_tws_stateful_count_equals_batch(spark):
    stream = {
        r["user_id"]: r["cnt"]
        for r in QUERIES["stream_stateful_tws"](spark, SF_SMOKE).collect()
    }
    batch = {
        r["user_id"]: r["cnt"]
        for r in T(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stream == batch


def test_session_window_gap_boundary_semantics(spark):
    """Spark session extents are INCLUSIVE of start+gap: an event at
    exactly 30min after the previous MERGES; 1µs beyond starts a new
    session. The gaps-and-islands oracle must use strict `>` to match
    (engine/streaming.py stream_session SQL)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=30)),                  # at gap -> merges
        (2, base),
        (2, base + dt.timedelta(minutes=30, microseconds=1)),  # beyond -> new
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sess = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    per_user = {}
    for r in sess:
        per_user.setdefault(r["user_id"], []).append(r["cnt"])
    assert per_user[1] == [2]
    assert sorted(per_user[2]) == [1, 1]


def test_asof_view_at_exact_purchase_ts_counts(spark):
    """join_asof tie rule: a view with ts == purchase ts is 'prior'."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "view", 1.0, "{}"),
        (2, base, 7, "purchase", 1.0, "{}"),
        (3, base + dt.timedelta(hours=1), 8, "purchase", 1.0, "{}"),  # no view
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import engine.relational as R
    from unittest import mock

    with mock.patch.object(R, "T", lambda s, sf, name: df):
        out = {r["purchase_id"]: r["view_id"] for r in R.join_asof(spark, "x").collect()}
    assert out == {2: 1, 3: None}


def test_stream_stream_join_equals_batch_band_join(spark):
    stream = {
        (r["view_id"], r["purchase_id"])
        for r in QUERIES["stream_stream_join"](spark, SF_SMOKE).collect()
    }
    batch = {
        (r["view_id"], r["purchase_id"])
        for r in QUERIES["join_range_interval"](spark, SF_SMOKE).collect()
    }
    assert stream == batch


def test_stream_static_join_equals_batch(spark):
    """The stream-static enrichment must equal the equivalent batch
    join+agg exactly (same data, in-order replay)."""
    from engine.canon import dround
    from engine.registry import all_queries
    from engine.session import T

    from .conftest import SF_SMOKE

    got = {
        (r["n_name"]): (r["cnt"], r["sum_value"])
        for r in all_queries()["stream_static_join"](spark, SF_SMOKE).collect()
    }
    ev = T(spark, SF_SMOKE, "events")
    dim = T(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name")
    want = {
        r["n_name"]: (r["cnt"], r["sum_value"])
        for r in (
            ev.withColumn("nk", (F.col("user_id") % 25).cast("int"))
            .join(dim, F.col("nk") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        ).collect()
    }
    assert got == want


def test_stateful_session_timeout_matches_batch_sessionizer(spark):
    """Custom event-time-timeout sessionizer vs the batch sessionizer:
    every CLOSED session must match; the only permitted difference is a
    user's final session still open at stream end (the watermark never
    passed its last_seen+gap — at most ONE missing session per user,
    and it must be the last one)."""
    from engine.registry import all_queries

    from .conftest import SF_ORACLE

    qs = all_queries()
    stream = qs["stream_stateful_session_timeout"](spark, SF_ORACLE)
    batch = qs["win_sessionize_gap"](spark, SF_ORACLE)
    s = {r["user_id"]: r["count"] for r in stream.groupBy("user_id").count().collect()}
    b = {r["user_id"]: r["count"] for r in batch.groupBy("user_id").count().collect()}
    assert set(s) <= set(b)
    exact = mismatch = open_final = 0
    for u, bc in b.items():
        sc = s.get(u, 0)
        if sc == bc:
            exact += 1
        elif sc == bc - 1:
            open_final += 1
        else:
            mismatch += 1
    assert mismatch == 0, f"{mismatch} users beyond the open-final-session rule"
    assert exact >= 0.8 * len(b), (exact, open_final, len(b))


def test_rate_micro_batch_replays_exactly_n_checkpointed_batches(spark):
    """The availableNow-restart loop must process exactly _RATE_BATCHES
    deterministic generator batches (values [0, N·R), one timestamp per
    batch, 1 s apart) — not fewer (checkpoint ignored) and not more
    (unbounded run)."""
    from engine.streaming import _RATE_BATCHES, _RATE_ROWS_PER_BATCH

    from .conftest import SF_SMOKE

    out = all_queries()["stream_rate_micro_batch"](spark, SF_SMOKE).collect()
    total = sum(r["cnt"] for r in out)
    assert total == _RATE_BATCHES * _RATE_ROWS_PER_BATCH
    n = total
    assert sum(r["sum_value"] for r in out) == n * (n - 1) // 2
    # 2-second windows over batches 1 s apart: ceil(_RATE_BATCHES/2) rows
    assert len(out) == (_RATE_BATCHES + 1) // 2


# --------------------------------------------------------------------------
# Planted-fixture pins for the micro-batch watermark oracle semantics
# (the r7-late discovery: Spark keeps TWO watermarks per batch — the
# late-events filter lags eviction by one batch)
# --------------------------------------------------------------------------

_H_US = 3_600_000_000  # one hour in microseconds


def _planted_events_sf(spark, tmp_path, rows) -> str:
    """Write a minimal events table; rows = (event_id, ts_us, user_id)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows], unit="us"),
            "user_id": [r[2] for r in rows],
            "event_type": ["x"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    sf_dir = str(tmp_path / "sf_planted")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/events.parquet"
    )
    return sf_dir


def test_watermark_late_filter_lags_one_batch(spark, tmp_path):
    """Batch 2's late-events filter must use batch 1's watermark (from
    batch 0's max event time), NOT the updated eviction watermark: a
    late row whose window is still open under the LAGGED watermark is
    accepted (window count +1); one whose window closed under it is
    dropped. Under the current-batch watermark BOTH would be dropped."""
    base = 277_778 * _H_US  # hour-aligned epoch µs
    # 40 hourly main events (ids avoid %20==0) → batch 0 = hours 0..19,
    # batch 1 = hours 20..39; lagged filter wm for the late batch =
    # (base + 19 h) ms − 10 min
    main = [(i * 3 + 1, base + i * _H_US, 7) for i in range(40)]
    late_kept = (20, base + 19 * _H_US + 1_800_000_000, 8)  # window [19h,20h)
    late_dropped = (40, base + 60_000_000, 9)  # window [0h,1h) — long closed
    sf = _planted_events_sf(spark, tmp_path, main + [late_kept, late_dropped])
    out = {
        (r["window_start_us"], r["cnt"])
        for r in all_queries()["stream_watermark_late"](spark, sf).collect()
    }
    # window [19h,20h): main hour-19 event + the accepted late row
    assert (base + 19 * _H_US, 2) in out
    # window [0h,1h): the late row below the lagged watermark was dropped
    assert (base, 1) in out
    # nothing from the un-finalized tail (end > final eviction watermark)
    fwm_us = (base + 39 * _H_US) - 600_000_000
    assert all(ws + _H_US <= fwm_us for ws, _ in out)


def test_session_timeout_timer_fires_only_below_final_watermark(spark, tmp_path):
    """Event-time timers close an idle user's final session iff the
    FINAL eviction watermark passed last_seen + gap: user 7 (idle since
    hour 0) times out and emits; user 9 (active at stream end) keeps
    its last session open — it must NOT appear in the sink."""
    base = 2_000_000_000_000_000
    u7 = [(1, base, 7), (21, base + 600_000_000, 7)]  # one session, n=2
    u9 = [(i * 2 + 1, base + i * _H_US, 9) for i in range(1, 40)]  # 39 sessions
    sf = _planted_events_sf(spark, tmp_path, u7 + u9)
    rows = all_queries()["stream_stateful_session_timeout"](spark, sf).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 7: the timer emitted the only session (n=2)
    assert len(by_user.get(7, [])) == 1
    assert by_user[7][0]["n_events"] == 2
    # user 9: 39 one-event sessions, all but the LAST emitted by the
    # gap rule; the last stays open (watermark never passes last+gap)
    assert len(by_user.get(9, [])) == 38
    assert all(r["n_events"] == 1 for r in by_user[9])


def test_dedup_watermark_drops_planted_duplicates(spark, tmp_path):
    """The registered key's passthrough oracle is value-equal only
    because the sf fixture has unique event_ids and in-order arrival —
    this planted fixture pins the dedup semantics themselves (a broken
    dropDuplicatesWithinWatermark that passed everything through would
    fail HERE): in-batch duplicates drop, a cross-batch duplicate
    within the state horizon drops, a duplicate below the (one-batch-
    lagged) late watermark drops, and a re-arrival AFTER state eviction
    re-emits (bounded state, not a global distinct)."""
    import os

    import pandas as pd

    from engine.streaming import _read_stream, _run_to_memory

    _M_US = 60_000_000
    base = 277_778 * _H_US  # hour-aligned epoch µs
    cols = ["event_id", "ts_us", "user_id", "event_type", "value"]
    # one slice file per micro-batch (files_per_trigger=1 below)
    batches = [
        # batch 0: ids 1,2,4,7 emit; the second id=1 is an in-batch dup.
        # Watermark from b0's data = 60min − 10min = 50min (takes effect
        # one batch later — the pinned one-batch lag).
        [
            (1, base + 0 * _M_US),
            (2, base + 1 * _M_US),
            (1, base + 2 * _M_US),
            (4, base + 58 * _M_US),
            (7, base + 60 * _M_US),
        ],
        # batch 1 (operates under b0's 50min watermark):
        #  id=4 @59min — passes the late filter, state alive → DROPPED
        #  id=8 @61min — new → emitted
        # end of b1: ids 1,2 (expiry 10/11min < 50min) evicted
        [
            (4, base + 59 * _M_US),
            (8, base + 61 * _M_US),
        ],
        # batch 2:
        #  id=1 @55min — above the watermark, state evicted → RE-EMITTED
        #  id=2 @20min — below the lagged watermark → late-DROPPED
        #  id=9 @62min — new → emitted
        [
            (1, base + 55 * _M_US),
            (2, base + 20 * _M_US),
            (9, base + 62 * _M_US),
        ],
    ]
    path = str(tmp_path / "dedup_replay")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [(eid, ts, 7, "x", 1.0) for eid, ts in rows], columns=cols
        ).astype({"event_id": "int64", "ts_us": "int64", "user_id": "int64"})
        fp = os.path.join(path, f"slice_{i:03d}.parquet")
        pdf.to_parquet(fp, index=False)
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))
    s = _read_stream(spark, path, files_per_trigger=1).withWatermark(
        "ts", "10 minutes"
    )
    out = _run_to_memory(
        s.dropDuplicatesWithinWatermark(["event_id"]), "append"
    )
    got = sorted(r["event_id"] for r in out.collect())
    assert got == [1, 1, 2, 4, 7, 8, 9], got


def test_stream_dedup_cascade_matches_sequential_semantics(spark):
    """Pin the r10 streaming dedup cascade against a from-scratch
    pure-Python SEQUENTIAL replay of its declared semantics: docs
    arrive in doc_id order in 4 contiguous chunks; first arrival per
    md5-60bit content hash survives the exact stage; an exact-survivor
    drops at the near stage iff ANY of its 6 portable-MinHash band
    buckets was already claimed by an earlier exact-survivor (store +
    in-batch, which the sequential scan makes one rule). The Spark key
    implements this with anti/semi joins against versioned state
    stores — this test proves that relational formulation equals the
    sequential definition the docstring declares."""
    import hashlib

    from engine.similarity import _MINHASH_P as P

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(SF_SMOKE + "/documents.parquet").collect()
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n = len(docs)
    chunk = -(-n // 4)
    seen_h: set[int] = set()
    buckets: set[tuple[int, int]] = set()
    expected = []
    for k0 in range(0, n, chunk):
        batch = docs[k0 : k0 + chunk]
        arrived, ex, nr = len(batch), 0, 0
        for doc_id, text in batch:
            hh = h60(text)
            if hh in seen_h:
                ex += 1
                continue
            seen_h.add(hh)
            toks = text.split(" ")
            bands: list[tuple[int, int]] = []
            if len(toks) >= 5:
                sh = {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
                xs = [h60(s) % P for s in sh]
                bands = [
                    (i, min(((2 * i + 1) * x + 12345 * i) % P for x in xs))
                    for i in range(6)
                ]
            if any(b in buckets for b in bands):
                nr += 1
            # bands of EVERY exact-survivor claim buckets (near-dups too)
            buckets.update(bands)
        expected.append((k0 // chunk, arrived, ex, nr, arrived - ex - nr))

    got = [
        (r["batch_id"], r["arrived"], r["exact_dups"], r["near_dups"],
         r["survivors"])
        for r in QUERIES["stream_dedup_cascade"](spark, SF_SMOKE).collect()
    ]
    assert got == expected
    # the fixture must actually exercise the cascade: multiple batches,
    # and at least one doc dropped somewhere (sf fixtures carry dups)
    assert len(got) == 4
    assert sum(r[2] + r[3] for r in got) > 0


@pytest.mark.parametrize("outcome", ["ok", "raises"])
@pytest.mark.parametrize("prior", ["set", "unset"])
def test_run_stream_restores_confs(spark, tmp_path, prior, outcome):
    """Every streaming query the engine starts goes through _run_stream,
    which sets the shard count, the per-site confs and the FileSystem-
    API checkpoint manager for the query's start. Inside the query's
    batches those values must be in effect; afterwards each conf must
    be back to its previous value — or unset again if it was unset —
    whether the query finished or raised (the r10 provider leak:
    stream_stateful_tws's RocksDB provider reached every later
    streaming key of the session)."""
    import pandas as pd

    import engine.streaming as S

    provider = "spark.sql.streaming.stateStore.providerClass"
    take = "spark.sql.limit.initialNumPartitions"
    parts = "spark.sql.shuffle.partitions"
    prev_values = {
        parts: "5",
        take: "2",
        provider: "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
        S._CKPT_MANAGER_KEY: "org.apache.spark.sql.execution.streaming."
        "checkpointing.FileContextBasedCheckpointFileManager",
    }
    run_confs = {
        provider: "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        take: "1024",
    }
    expected_in_batch = {
        **run_confs, parts: "3", S._CKPT_MANAGER_KEY: S._FS_CKPT_MANAGER
    }
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(tmp_path / "s.parquet")
    seen: dict[str, str | None] = {}

    def batch(batch_df, epoch_id):
        conf = batch_df.sparkSession.conf
        seen.update({k: conf.get(k, None) for k in expected_in_batch})
        if outcome == "raises":
            raise ValueError("injected batch failure")

    session = {k: spark.conf.get(k, None) for k in prev_values}
    try:
        for k, v in prev_values.items():
            if prior == "set":
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        before = {k: spark.conf.get(k, None) for k in prev_values}
        stream = spark.readStream.schema("x long").parquet(str(tmp_path))
        if outcome == "raises":
            with pytest.raises(Exception, match="injected batch failure"):
                S._run_stream(
                    stream, S._foreach_batch(batch), shards=3,
                    confs=run_confs,
                )
        else:
            S._run_stream(
                stream, S._foreach_batch(batch), shards=3, confs=run_confs
            )
        after = {k: spark.conf.get(k, None) for k in prev_values}
    finally:
        for k, v in session.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert before == (
        prev_values if prior == "set" else dict.fromkeys(prev_values)
    )
    assert after == before
    assert seen == expected_in_batch


def test_fs_manager_only_for_local_checkpoint_roots():
    """The checkpoint-manager choice is a pure function of the root:
    unset (Spark's private temp dir) or a local path → the FileSystem-
    API manager; any other filesystem keeps Spark's default."""
    from engine.streaming import _fs_manager_safe

    for root in (None, "/tmp/ckpt", "rel/ckpt", "file:///tmp/ckpt"):
        assert _fs_manager_safe(root), root
    for root in (
        "s3a://bucket/ckpt", "gs://bucket/ckpt", "hdfs://nn:8020/ckpt",
        "abfss://c@acct.dfs.core.windows.net/ckpt",
    ):
        assert not _fs_manager_safe(root), root


def test_memory_sink_tables_do_not_accumulate(spark):
    """_run_to_memory drops its stream_mem_N view once it holds the
    DataFrame, so repeated runs of a memory-sink key leave the session's
    table list flat while the returned result stays usable."""

    def mem_tables() -> int:
        return sum(
            1 for r in spark.sql("SHOW TABLES").collect()
            if r.tableName.startswith("stream_mem_")
        )

    start = mem_tables()
    runs = [
        QUERIES["stream_dedup_watermark"](spark, SF_SMOKE).collect()
        for _ in range(2)
    ]
    assert mem_tables() <= start
    assert runs[0] == runs[1] and sum(r["cnt"] for r in runs[0]) > 0


def test_stream_ann_ingest_assignment_rule_and_store_layout(spark):
    """Pin the r11 streaming ANN ingest against a from-scratch
    pure-Python replay of its declared semantics: batch = contiguous
    vec_id chunk, assignment = argmin micro-rounded euclidean distance
    to the frozen k-means centroids (FLOOR(d*1e6+0.5), cluster-id
    tie-break), avg_dist = exact integer micro-unit sum / n. Also pins
    the architectural point: the appended store is PARTITIONED BY CELL
    and together holds exactly the corpus."""
    import math
    import pathlib

    import engine.streaming as S
    from engine.kmeans import materialize_means
    from engine.session import scratch_dir, sf_tag

    got = [
        (r["batch_id"], r["cell"], r["n_assigned"], r["avg_dist"])
        for r in QUERIES["stream_ann_ingest"](spark, SF_SMOKE).collect()
    ]

    _path, means = materialize_means(spark, SF_SMOKE)
    emb = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(SF_SMOKE + "/embeddings.parquet").collect()
    )
    chunk = -(-len(emb) // S._AI_FILES)
    agg: dict[tuple[int, int], list[int]] = {}
    for idx, (vid, e) in enumerate(emb):
        b = idx // chunk
        best = min(
            range(len(means)),
            key=lambda c: (
                math.floor(
                    math.sqrt(sum((x - y) ** 2 for x, y in zip(e, means[c])))
                    * 1e6
                    + 0.5
                ),
                c,
            ),
        )
        du = math.floor(
            math.sqrt(sum((x - y) ** 2 for x, y in zip(e, means[best])))
            * 1e6
            + 0.5
        )
        n_du = agg.setdefault((b, best), [0, 0])
        n_du[0] += 1
        n_du[1] += du
    expected = sorted(
        (b, c, n, round(sdu / n / 1e6 * 1e6) / 1e6)
        for (b, c), (n, sdu) in agg.items()
    )
    assert [(b, c, n, round(a, 6)) for b, c, n, a in got] == [
        (b, c, n, round(a, 6)) for b, c, n, a in expected
    ]
    # store layout: cell=... partition dirs, total rows == corpus
    tag = sf_tag(SF_SMOKE)
    store = pathlib.Path(scratch_dir(f"ann_ingest_store/{tag}"))
    cells = sorted(
        int(p.name.split("=")[1]) for p in store.iterdir() if p.name.startswith("cell=")
    )
    assert set(cells) == {c for _, c, _, _ in got}
    import pyarrow.parquet as pq

    total = sum(
        pq.ParquetFile(f).metadata.num_rows for f in store.rglob("*.parquet")
    )
    assert total == len(emb)


def test_pipeline_ann_retrain_gate_rule(spark):
    """Pin the r12 drift gate against a pure-Python replay of its
    declared semantics: funnel = per-(batch, cell) exact micro-unit
    assignment sums (the stream_ann_ingest rule), baseline = batch 0,
    recent = last batch, retrain iff recent_avg > base_avg * 105/100
    decided by int64 cross-multiplication — plus the evidence edges
    (recent_n=0 -> never, base_n=0 -> always)."""
    import math

    import engine.streaming as S
    from engine.kmeans import materialize_means

    got = [
        (r["cell"], r["base_n"], r["recent_n"], r["retrain"])
        for r in QUERIES["pipeline_ann_retrain_gate"](spark, SF_SMOKE).collect()
    ]

    _p, means = materialize_means(spark, SF_SMOKE)
    emb = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(SF_SMOKE + "/embeddings.parquet").collect()
    )
    chunk = -(-len(emb) // S._AI_FILES)
    agg: dict[tuple[int, int], list[int]] = {}
    for idx, (vid, e) in enumerate(emb):
        b = idx // chunk
        du_of = lambda c: math.floor(
            math.sqrt(sum((x - y) ** 2 for x, y in zip(e, means[c]))) * 1e6
            + 0.5
        )
        best = min(range(len(means)), key=lambda c: (du_of(c), c))
        n_du = agg.setdefault((b, best), [0, 0])
        n_du[0] += 1
        n_du[1] += du_of(best)
    last = max(b for b, _ in agg)
    cells = {c for b, c in agg if b in (0, last)}
    expected = []
    for c in sorted(cells):
        bn, bsdu = agg.get((0, c), (0, 0))
        rn, rsdu = agg.get((last, c), (0, 0))
        if rn == 0:
            retrain = False
        elif bn == 0:
            retrain = True
        else:
            retrain = rsdu * bn * 100 > bsdu * rn * 105
        expected.append((c, bn, rn, retrain))
    assert got == expected
    assert len(got) > 0


def test_stream_ann_ingest_argmin_plan_no_exchange(spark):
    """Plan gate for the r12 zero-shuffle argmin (VERDICT r11 finding
    1): the per-batch assignment relation — the engine's own
    _ann_assign projection, which each batch checkpoints — must have NO
    Exchange: the old crossJoin(centroids) + row_number window
    shuffled batch×K expanded rows every batch; the prebuilt
    expression fold assigns per row."""
    import engine.streaming as S
    from engine.kmeans import materialize_means

    _p, means = materialize_means(spark, SF_SMOKE)
    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = S._ann_assign(emb, S._argmin_cell_sql(means))
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and it is not a degenerate plan: it really assigns every row
    assert assigned.count() == emb.count()


def test_cascade_compaction_and_dynfilter_result_invariance(spark):
    """The r12 ledger machinery must be RESULT-INVISIBLE: (a) forcing
    compaction after EVERY batch (threshold 0) and (b) disabling the
    dynamic IN filter entirely (cap 0) must both produce the exact
    funnel of the shipped configuration — compaction only rewrites
    bytes, and the IN filter only removes rows that could never join.
    Also pins the compaction invariants directly: every bucket dir
    collapses to one file and ledger CONTENT is unchanged."""
    import pathlib

    import engine.streaming as S
    from engine.session import scratch_dir, sf_tag

    def funnel():
        return [
            tuple(int(x) for x in r)
            for r in QUERIES["stream_dedup_cascade"](spark, SF_SMOKE).collect()
        ]

    shipped = funnel()
    thr, cap = S._DC_COMPACT_FILES, S._DC_DYNFILTER_CAP
    probe: list[dict] = []
    try:
        S._DC_COMPACT_FILES = 0  # compact every touched bucket, every batch
        S._DC_READ_PROBE = probe  # the tools/cascade_scale.py read probe
        compacted = funnel()
        S._DC_READ_PROBE = None
        tag = sf_tag(SF_SMOKE)
        base = pathlib.Path(scratch_dir(f"dedup_cascade_state/{tag}"))
        for store in ("hashes", "buckets"):
            for d in (base / store).glob("*=*"):
                # r13 layout: appends land in epoch=<id> subdirs and
                # compaction folds them into the epoch=-1 sentinel
                nf = sum(1 for _ in d.rglob("*.parquet"))
                assert nf == 1, (store, d.name, nf)
        S._DC_COMPACT_FILES = thr
        S._DC_DYNFILTER_CAP = 0  # partition pruning only, no IN filter
        unfiltered = funnel()
    finally:
        S._DC_COMPACT_FILES = thr
        S._DC_DYNFILTER_CAP = cap
        S._DC_READ_PROBE = None
    assert compacted == shipped
    assert unfiltered == shipped
    # one probe record per committed batch, written after that batch's
    # compaction; the pruned reads never scan more than the ledger holds
    assert [p["batch"] for p in probe] == [r[0] for r in compacted]
    for p in probe:
        assert p["h_files_max"] == p["b_files_max"] == 1, p
        assert p["h_scanned"] <= p["h_ledger"], p


def test_compact_ledger_buckets_preserves_content(spark):
    """_compact_ledger_buckets on a hand-built partitioned store:
    multiset of rows identical before/after, files/bucket collapses to
    1, and untouched (below-threshold) buckets keep their files."""
    import pathlib

    import engine.streaming as S
    from engine.session import scratch_dir

    root = scratch_dir("compact_unit_test")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    # bucket p=0 gets 3 epoch-keyed appends (over a threshold of 2),
    # p=1 gets one — the r13 (part_col, epoch) ledger layout
    for e, vals in enumerate(([(0, 5), (0, 3)], [(0, 9)], [(0, 1), (1, 7)])):
        (
            spark.createDataFrame(vals, "p int, x long")
            .withColumn("epoch", F.lit(e))
            .repartition("p")
            .write.mode("append")
            .partitionBy("p", "epoch")
            .parquet(root)
        )
    before = sorted(
        (r["p"], r["x"]) for r in spark.read.parquet(root).collect()
    )
    files_p1_before = sum(
        1 for _ in pathlib.Path(root, "p=1").rglob("*.parquet")
    )
    old = S._DC_COMPACT_FILES
    try:
        S._DC_COMPACT_FILES = 2
        n = S._compact_ledger_buckets(spark, root, "p", ["x"])
    finally:
        S._DC_COMPACT_FILES = old
    assert n == 1  # only p=0 exceeded the threshold
    after = sorted(
        (r["p"], r["x"]) for r in spark.read.parquet(root).collect()
    )
    assert after == before
    # folded into ONE file under the epoch=-1 compacted sentinel; the
    # source epoch dirs are gone (deleted after the rewrite committed)
    assert sum(1 for _ in pathlib.Path(root, "p=0").rglob("*.parquet")) == 1
    assert [d.name for d in pathlib.Path(root, "p=0").glob("epoch=*")] == [
        "epoch=-1"
    ]
    # dynamic overwrite must not have touched the below-threshold bucket
    assert (
        sum(1 for _ in pathlib.Path(root, "p=1").rglob("*.parquet"))
        == files_p1_before
    )
    # and the compacted file is sorted by the join key (row-group stats
    # usable): read back preserving file order within the single file
    xs = [
        r["x"]
        for r in spark.read.parquet(str(pathlib.Path(root, "p=0"))).collect()
    ]
    assert xs == sorted(xs)


def test_sql_in_matches_isin_semantics(spark):
    """_sql_in (the parsed-string IN builder) must be value-equivalent
    to Column.isin, including the empty-list 'nothing matches' case."""
    import engine.streaming as S

    df = spark.range(10).select(F.col("id").cast("bigint").alias("v"))
    got = sorted(
        r["v"] for r in df.filter(S._sql_in("v", {7, 3, 9, 11})).collect()
    )
    assert got == [3, 7, 9]
    assert df.filter(S._sql_in("v", set())).count() == 0


def test_cascade_pruned_read_plan_two_level_filters(spark):
    """Plan gate for the r12 two-level ledger pruning: a pruned read
    shaped exactly like the cascade's (partition-prefix IN + dynamic
    key IN) must show the prefix under PartitionFilters (directory
    pruning) and the key IN under PushedFilters (parquet-evaluable —
    row-group stats/dictionary skipping once row groups are
    production-sized)."""
    import engine.streaming as S
    from engine.session import scratch_dir, sf_tag

    QUERIES["stream_dedup_cascade"](spark, SF_SMOKE).collect()
    root = scratch_dir(f"dedup_cascade_state/{sf_tag(SF_SMOKE)}/hashes")
    df = (
        spark.read.parquet(root)
        .filter(S._sql_in("pb", {0, 1}))
        .filter(S._sql_in("hh", {12345, 678}))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [pb" in plan and " IN (0,1)" in plan, plan
    assert "PushedFilters: [In(hh, [12345,678])]" in plan, plan


def test_retrain_gate_edge_branches_under_trickle_replay(spark):
    """Exercise the gate's evidence edges with an 80-batch trickle
    replay at sf0.01 — the key's oracle-contract SF (its means artifact
    is sf0_01-pinned, so the smoke SF cannot be oracle-compared): ~6
    vectors/batch over 10 cells, so cells routinely miss batch 0 or the
    last batch. base_n=0 with recent traffic must retrain, recent_n=0
    must never retrain — verified against the DuckDB oracle at the
    patched slice count AND asserted to actually occur in the
    fixture."""
    import engine.streaming as S

    from .conftest import make_duck
    from .oracle_utils import compare

    sf = "/root/testdata/sf0.01"
    old = S._AI_FILES
    try:
        S._AI_FILES = 80
        df = QUERIES["pipeline_ann_retrain_gate"](spark, sf)
        rows = df.collect()
        compare(df, make_duck(sf), S._rg_oracle_sql(), key="rg80")
    finally:
        S._AI_FILES = old
    new_cells = [r for r in rows if r["base_n"] == 0 and r["recent_n"] > 0]
    idle_cells = [r for r in rows if r["recent_n"] == 0 and r["base_n"] > 0]
    assert new_cells and all(r["retrain"] for r in new_cells)
    assert idle_cells and not any(r["retrain"] for r in idle_cells)


def test_retrain_apply_rewrites_only_flagged_cells(spark):
    """r13 pipeline_ann_retrain_apply's physical ACT (VERDICT r12 task
    1), at the oracle-contract SF (artifact-pinned key class): the new
    IVF-PQ artifact generation must (a) carry every UNFLAGGED cell's
    code files over byte-identical, (b) rewrite every flagged cell
    with the same row count (membership unchanged by a centroid
    refresh), (c) carry the codebook frozen, and (d) publish a
    retrained means artifact whose unflagged rows equal the original
    centroids while flagged rows moved to the cells' exact means."""
    import hashlib
    import pathlib

    import engine.similarity as SIM
    from engine.kmeans import materialize_means
    import engine.streaming as S

    sf = "/root/testdata/sf0.01"
    out = {r["cell"]: r for r in QUERIES["pipeline_ann_retrain_apply"](spark, sf).collect()}
    flagged = {c for c, r in out.items() if r["retrained"]}
    assert flagged and len(flagged) < len(out), (
        "fixture must exercise both branches",
        flagged,
    )
    src = pathlib.Path(SIM._pq_artifact_root(sf))
    dst = pathlib.Path(str(src) + "_g1")

    def tree(p):
        return {
            str(f.relative_to(p)): hashlib.sha1(f.read_bytes()).hexdigest()
            for f in sorted(p.rglob("*"))
            if f.is_file()
        }

    # (a) unflagged cells byte-identical, (b) flagged rewritten
    for d in (src / "codes").glob("cell=*"):
        cell = int(d.name.split("=")[1])
        dd = dst / "codes" / d.name
        assert dd.is_dir(), d.name
        if cell not in flagged:
            assert tree(d) == tree(dd), ("unflagged cell mutated", d.name)
        else:
            n_src = spark.read.parquet(str(d)).count()
            n_dst = spark.read.parquet(str(dd)).count()
            assert n_src == n_dst, (d.name, n_src, n_dst)
    # (c) frozen codebook
    assert tree(src / "cb") == tree(dst / "cb")
    # (d) the retrained means generation
    _mp, means = materialize_means(spark, sf)
    got = {
        r["cell"]: list(r["mean"])
        for r in spark.read.parquet(S._retrained_means_path(sf)).collect()
    }
    assert set(got) == set(range(len(means)))
    for c, m in enumerate(means):
        if c not in flagged:
            assert got[c] == list(m), ("unflagged centroid moved", c)
        else:
            assert got[c] != list(m), ("flagged centroid did not move", c)
    # and the report's semantics: non-retrained rows carry old == new
    for c, r in out.items():
        if c not in flagged:
            assert r["new_avg"] == r["old_avg"], r


def test_ann_reindex_moves_rows_and_carries_clean_cells(spark):
    """r13 pipeline_ann_reindex's physical ACT, at the oracle-contract
    SF: generation g2 must (a) carry every cell WITHOUT movement over
    byte-identical from its source generation, (b) place every mover's
    code rows in its cell_to partition and drop them from cell_from,
    (c) carry cmeans and codebook frozen, and (d) balance — per-cell
    g2 counts equal the report's n_after, which the DuckDB oracle
    independently recomputes from the movement relation."""
    import hashlib
    import pathlib

    import engine.similarity as SIM

    sf = "/root/testdata/sf0.01"
    report = {
        r["cell"]: r
        for r in QUERIES["pipeline_ann_reindex"](spark, sf).collect()
    }
    dirty = {c for c, r in report.items() if r["rewritten"]}
    assert dirty, "contract fixture must produce churn"
    base = pathlib.Path(SIM._pq_artifact_root(sf))
    src = base.parent / (base.name + "_g1")
    if not src.is_dir():  # no flagged cells → source is the base artifact
        src = base
    dst = base.parent / (base.name + "_g2")

    def tree(p):
        return {
            str(f.relative_to(p)): hashlib.sha1(f.read_bytes()).hexdigest()
            for f in sorted(p.rglob("*"))
            if f.is_file()
        }

    # (a) clean cells byte-identical, (d) dirty cells balance
    for d in (src / "codes").glob("cell=*"):
        cell = int(d.name.split("=")[1])
        dd = dst / "codes" / d.name
        if cell not in dirty:
            assert tree(d) == tree(dd), ("clean cell mutated", d.name)
        else:
            n_rows = spark.read.parquet(str(dd)).count()
            assert n_rows == report[cell]["n_after"] * SIM._PQ_S, (
                d.name,
                n_rows,
                report[cell]["n_after"],
            )
    # (b) each mover's rows live in cell_to, none remain in cell_from
    import engine.streaming as S

    emb, means, merged, _fl = S._merged_quantizer(spark, sf)
    movers = (
        emb.select(
            "vec_id",
            F.expr(S._argmin_cell_sql(means))["cell"].alias("cf"),
            F.expr(S._argmin_cell_sql(merged))["cell"].alias("ct"),
        )
        .filter("cf != ct")
        .collect()
    )
    assert movers, "contract fixture must produce churn"
    g2 = (
        spark.read.parquet(str(dst / "codes"))
        .groupBy("vec_id", "cell")
        .count()
        .collect()
    )
    loc = {(r["vec_id"], r["cell"]): r["count"] for r in g2}
    for m in movers:
        assert loc.get((m["vec_id"], m["ct"])) == SIM._PQ_S, m
        assert (m["vec_id"], m["cf"]) not in loc, m
    # (c) frozen cmeans + codebook
    assert tree(src / "cb") == tree(dst / "cb")
    assert tree(src / "cmeans") == tree(dst / "cmeans")

    # (a') the carry-over branch: at sf0.01 every cell churns under the
    # full movement matrix, so drive the physical helper directly with
    # the movers of ONE (from→to) pair — every other cell must carry
    # over byte-identical from the base generation
    cf, ct = movers[0]["cf"], movers[0]["ct"]
    pair = [m for m in movers if m["cf"] == cf and m["ct"] == ct]
    one = spark.createDataFrame(
        [(m["vec_id"], m["cf"], m["ct"]) for m in pair],
        "vec_id long, cell_from int, cell_to int",
    )
    src2, dst2 = SIM.reindex_cells(spark, sf, one, [])
    src2, dst2 = pathlib.Path(src2), pathlib.Path(dst2)
    assert src2 == base  # no flagged cells → base generation is source
    for d in (src2 / "codes").glob("cell=*"):
        cell = int(d.name.split("=")[1])
        dd = dst2 / "codes" / d.name
        if cell not in (cf, ct):
            assert tree(d) == tree(dd), ("clean cell mutated", d.name)
    n = lambda root, c: spark.read.parquet(  # noqa: E731
        str(root / "codes" / f"cell={c}")
    ).count()
    assert n(dst2, cf) == n(src2, cf) - len(pair) * SIM._PQ_S
    assert n(dst2, ct) == n(src2, ct) + len(pair) * SIM._PQ_S


def test_stream_decontaminate_agrees_with_batch_gate(spark):
    """The streaming benchmark gate (late r13) must (a) balance —
    every arrival is exactly one of eval_member / contaminated / kept —
    and (b) agree with its batch twin: total contaminated docs equals
    pipeline_decontaminate's removal-list size, at an SF whose fixture
    actually fires the gate (sf0.001 carries 2 cross-doc 8-gram
    collisions; the sf0.01 fixture has none, which the oracle's zero
    columns pin there)."""
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["stream_decontaminate"](spark, sf).collect()
    assert rows, "funnel must emit one row per replay batch"
    for r in rows:
        assert (
            r["arrived"]
            == r["eval_members"] + r["contaminated"] + r["kept"]
        ), r
    removal = QUERIES["pipeline_decontaminate"](spark, sf).collect()
    assert sum(r["contaminated"] for r in rows) == len(removal) > 0


def test_stream_ingest_e2e_fuses_gate_and_cascade(spark):
    """The fused ingest pipeline (late r13) must (a) balance per batch
    — arrived = gated_out + exact_dups + near_dups + stored; (b) agree
    with the standalone gate: arrived − gated_out equals
    stream_decontaminate's kept column batch-for-batch (same slicing,
    same gram rule — the fusion point changes WHERE the gate runs, not
    what it removes), at an SF whose fixture fires the contamination
    branch (sf0.001); and (c) differ from the UNGATED cascade only
    through the gated docs — its stored count can never exceed the
    ungated cascade's survivors."""
    sf = "/root/testdata/sf0.001"
    fused = QUERIES["stream_ingest_e2e"](spark, sf).collect()
    assert fused
    for r in fused:
        assert (
            r["arrived"]
            == r["gated_out"] + r["exact_dups"] + r["near_dups"] + r["stored"]
        ), r
    gate = {
        r["batch_id"]: r
        for r in QUERIES["stream_decontaminate"](spark, sf).collect()
    }
    assert sum(r["gated_out"] for r in fused) > sum(
        r["eval_members"] for r in gate.values()
    ), "contamination branch must fire at sf0.001"
    for r in fused:
        g = gate[r["batch_id"]]
        assert r["arrived"] - r["gated_out"] == g["kept"], (r, g)
    ungated = {
        r["batch_id"]: r
        for r in QUERIES["stream_dedup_cascade"](spark, sf).collect()
    }
    for r in fused:
        assert r["stored"] <= ungated[r["batch_id"]]["survivors"], r


def test_generation_publish_memo_and_crash_recovery(spark):
    """The generation-memo contract (reencode_cells through
    engine.session.artifact): (a) a second derivation with the same inputs is
    a pure READ — every published file byte-identical, nothing
    rewritten; (b) a stale identity marker forces a full rebuild whose
    RELATION equals the original (parquet file names carry job UUIDs,
    so equality is row-level, not byte-level) and restores the marker;
    (c) a crashed builder's leftover temp root is never adopted — the
    publish is rename-only, so a reader can see only complete
    generations."""
    import hashlib
    import pathlib
    import shutil

    import engine.similarity as SIM
    import engine.streaming as S

    sf = "/root/testdata/sf0.01"
    _emb, _means, _merged, flagged = S._merged_quantizer(spark, sf)
    assert flagged, "contract fixture must flag cells"
    g1 = SIM.reencode_cells(spark, sf, flagged)

    def tree(p):
        return {
            str(f.relative_to(p)): hashlib.sha1(f.read_bytes()).hexdigest()
            for f in sorted(pathlib.Path(p).rglob("*"))
            if f.is_file()
        }

    def rows(p):
        return sorted(
            map(tuple, spark.read.parquet(p + "/codes").collect())
        )

    tree1, rows1 = tree(g1), rows(g1)
    # (a) memo hit: same inputs → pure read, bytes untouched
    assert SIM.reencode_cells(spark, sf, flagged) == g1
    assert tree(g1) == tree1, "memo hit must not rewrite any file"
    # (c) a crashed builder's stale temp root is inert
    junk = pathlib.Path(g1 + ".tmp.999999")
    (junk / "codes").mkdir(parents=True)
    (junk / "codes" / "garbage").write_text("partial build")
    # (b) stale marker → deterministic rebuild, marker restored
    marker = pathlib.Path(g1, "_ARTIFACT")
    saved = marker.read_text()
    marker.write_text("[999]")
    g1b = SIM.reencode_cells(spark, sf, flagged)
    assert g1b == g1
    assert pathlib.Path(g1b, "_ARTIFACT").read_text() == saved
    assert rows(g1b) == rows1, "rebuild must reproduce the relation"
    assert junk.is_dir(), "stale temp must never be adopted or renamed"
    shutil.rmtree(junk)


def test_ann_reassign_mass_conservation_and_plan_shape(spark):
    """r13 pipeline_ann_reassign (the CONVERGENCE step): the movement
    matrix must (a) conserve mass — sum(n) equals the vector count, so
    a re-index job planning partition rewrites from it never loses or
    invents rows; (b) mark moved ⇔ cell_from != cell_to; (c) agree
    with the retrain APPLY's decisions — with no flagged cell the
    merged quantizer equals the old one and the matrix must be purely
    diagonal, and at the contract SF (where the apply test proves both
    branches fire) off-diagonal churn must touch a flagged endpoint;
    (d) keep the declared plan shape: the re-assignment pass is a
    literal-folded double argmin over ONE scan — no Join anywhere and
    no Exchange before the movement aggregate (exactly the partial/
    final agg exchange plus the presentation sort's range exchange)."""
    sf = "/root/testdata/sf0.01"
    df = QUERIES["pipeline_ann_reassign"](spark, sf)
    rows = df.collect()
    total = T(spark, sf, "embeddings").count()
    assert sum(r["n"] for r in rows) == total
    assert all(r["moved"] == (r["cell_from"] != r["cell_to"]) for r in rows)

    flagged = {
        r["cell"]
        for r in QUERIES["pipeline_ann_retrain_apply"](spark, sf).collect()
        if r["retrained"]
    }
    off_diag = [r for r in rows if r["moved"]]
    if not flagged:
        assert not off_diag
    else:
        # churn is CAUSED by re-fit centroids: each move involves one
        assert all(
            r["cell_from"] in flagged or r["cell_to"] in flagged
            for r in off_diag
        ), off_diag

    # AQE's toString appends an "== Initial Plan ==" copy; gate on the
    # executed final section only
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Join" not in plan, plan
    assert plan.count("+- Exchange") <= 2, plan


def test_stream_dedup_cascade_ttl_matches_sequential_semantics(spark):
    """Pin the r12 TTL cascade against a from-scratch pure-Python
    SEQUENTIAL replay of its declared last-seen semantics: a doc is an
    exact-dup iff ANY arrival of its md5-60bit hash happened within the
    last _DC_TTL batches (every arrival refreshes the clock); an
    exact-survivor is a near-dup iff any of its 6 band buckets was
    claimed by an earlier exact-survivor within the window. Also pins
    that expiry FIRES on this fixture: the TTL funnel must differ from
    the unbounded cascade's (gap-3 collisions exist at every SF)."""
    import hashlib

    import engine.streaming as S
    from engine.similarity import _MINHASH_P as P

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(SF_SMOKE + "/documents.parquet").collect()
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ttl = S._DC_TTL
    n = len(docs)
    chunk = -(-n // 4)
    last_h: dict[int, int] = {}  # hash -> last-seen batch
    claims: dict[tuple[int, int], int] = {}  # band bucket -> last claim batch
    expected = []
    for k0 in range(0, n, chunk):
        b = k0 // chunk
        arrived, ex, nr = len(docs[k0 : k0 + chunk]), 0, 0
        for doc_id, text in docs[k0 : k0 + chunk]:
            hh = h60(text if text is not None else "")
            seen = hh in last_h and last_h[hh] >= b - ttl
            last_h[hh] = b  # EVERY arrival refreshes, dup or not
            if seen:
                ex += 1
                continue
            toks = (text or "").split(" ")
            bands: list[tuple[int, int]] = []
            if len(toks) >= 5:
                sh = {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
                xs = [h60(s) % P for s in sh]
                bands = [
                    (i, min(((2 * i + 1) * x + 12345 * i) % P for x in xs))
                    for i in range(6)
                ]
            if any(bk in claims and claims[bk] >= b - ttl for bk in bands):
                nr += 1
            for bk in bands:  # every exact-survivor claims, near-dups too
                claims[bk] = b
        expected.append((b, arrived, ex, nr, arrived - ex - nr))

    got = [
        tuple(int(x) for x in r)
        for r in QUERIES["stream_dedup_cascade_ttl"](spark, SF_SMOKE).collect()
    ]
    assert got == expected
    unbounded = [
        tuple(int(x) for x in r)
        for r in QUERIES["stream_dedup_cascade"](spark, SF_SMOKE).collect()
    ]
    assert got != unbounded  # expiry must actually fire on this fixture


def _state_tree_hashes(base: str) -> dict[str, str]:
    """sha1 per file under a state base (ledgers + epoch markers) —
    byte-identity probe for the duplicate-epoch tests."""
    import hashlib
    import pathlib

    return {
        str(f): hashlib.sha1(f.read_bytes()).hexdigest()
        for f in sorted(pathlib.Path(base).rglob("*"))
        if f.is_file()
    }


@pytest.mark.parametrize(
    "key,state_name",
    [
        ("stream_dedup_cascade", "dedup_cascade_state"),
        ("stream_dedup_cascade_ttl", "dedup_cascade_ttl_state"),
        ("stream_ann_ingest", "ann_ingest_store"),
        ("stream_ann_ingest_ttl", "ann_ingest_ttl_store"),
        # the fused gate+cascade inherits the shared body's idempotency;
        # the marker short-circuit must also keep the gate's removal
        # bookkeeping single-entry (prefilter never reruns a committed
        # epoch)
        ("stream_ingest_e2e", "ingest_e2e_state"),
    ],
)
def test_duplicate_epoch_delivery_is_noop(spark, key, state_name):
    """r13 epoch-keyed idempotent appends (VERDICT r12 task 3):
    foreachBatch guarantees at-least-once delivery — on restart after
    a failure the failed epoch is RE-delivered. Inject a duplicate
    delivery of EVERY epoch mid-stream (the _DC_BATCH_WRAPPER hook)
    and assert (a) the state tree — ledger parquet AND epoch markers —
    is byte-identical before/after each duplicate call, and (b) the
    funnel equals the clean single-delivery run's."""
    import engine.streaming as S
    from engine.session import scratch_dir, sf_tag

    clean = [tuple(r) for r in QUERIES[key](spark, SF_SMOKE).collect()]
    tag = sf_tag(SF_SMOKE)
    base = scratch_dir(f"{state_name}/{tag}")

    noop_flags: list[bool] = []

    def wrapper(fn):
        def wrapped(df, eid):
            fn(df, eid)
            before = _state_tree_hashes(base)
            fn(df, eid)  # duplicate delivery of a committed epoch
            noop_flags.append(_state_tree_hashes(base) == before)

        return wrapped

    S._DC_BATCH_WRAPPER = wrapper
    try:
        dup = [tuple(r) for r in QUERIES[key](spark, SF_SMOKE).collect()]
    finally:
        S._DC_BATCH_WRAPPER = None
    assert dup == clean
    assert noop_flags and all(noop_flags), noop_flags


def test_clear_epoch_leftovers_removes_only_that_epoch(spark):
    """The redo path of an UNMARKED (failed-delivery) epoch: its
    epoch-keyed dirs are deleted across buckets; other epochs and the
    compacted sentinel are untouched."""
    import pathlib

    import engine.streaming as S
    from engine.session import scratch_dir

    root = scratch_dir("epoch_cleanup_unit_test")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    for p, e in [(0, 7), (1, 7), (0, 6), (0, -1)]:
        pathlib.Path(root, f"pb={p}", f"epoch={e}").mkdir(parents=True)
        pathlib.Path(root, f"pb={p}", f"epoch={e}", "f.parquet").touch()
    S._clear_epoch_leftovers([root], 7)
    left = sorted(
        str(d.relative_to(root)) for d in pathlib.Path(root).glob("*=*/epoch=*")
    )
    assert left == ["pb=0/epoch=-1", "pb=0/epoch=6"]


def test_epoch_sink_commit_protocol(spark, tmp_path):
    """_epoch_sink's redelivery contract, driven by calling its
    foreachBatch callback by hand: (a) a delivery whose append lands and
    then fails leaves no marker; (b) redelivering that epoch clears the
    partial epoch dirs, appends exactly once, hands the body the same
    batch index, and writes the marker only after every submitted
    action finished; (c) a third delivery is a byte-identical no-op;
    (d) an empty batch runs no body and uses up no batch index."""
    import os
    import time
    import types

    import engine.streaming as S

    base, root = str(tmp_path), str(tmp_path / "store")
    batch = spark.createDataFrame([(i, i % 2) for i in range(6)], "v long, p int")
    calls: list[tuple[int, int]] = []  # (epoch_id, k) per body call
    marker_at_append_end: list[bool] = []
    followed: list[int] = []
    fail = [True]

    def body(batch_df, epoch_id, k, submit):
        calls.append((epoch_id, k))
        marker = S._epoch_marker(base, epoch_id)

        def append():
            time.sleep(0.5)  # still running when the body returns
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).partitionBy("p", "epoch").parquet(root)
            marker_at_append_end.append(os.path.exists(marker))
            if fail[0]:
                raise RuntimeError("append job failed after its files landed")

        submit(append)
        return lambda: followed.append(int(os.path.exists(marker)))

    deliver = S._epoch_sink(base, [root], body)(
        types.SimpleNamespace(foreachBatch=lambda cb: cb)
    )
    marker5 = S._epoch_marker(base, 5)

    # (a) the failed delivery: its files landed, the epoch stays unmarked
    with pytest.raises(RuntimeError):
        deliver(batch, 5)
    assert not os.path.exists(marker5)
    assert spark.read.parquet(root).count() == 6
    assert followed == []

    # (b) the redo: leftovers cleared, one append, same k, marker last
    fail[0] = False
    deliver(batch, 5)
    assert calls == [(5, 0), (5, 0)]
    assert os.path.exists(marker5)
    assert marker_at_append_end == [False, False]
    assert followed == [1]  # the follow-up runs after the commit
    assert sorted(r["v"] for r in spark.read.parquet(root).collect()) == list(
        range(6)
    )

    # (c) a committed epoch: no body call, tree byte-identical
    before = _state_tree_hashes(base)
    deliver(batch, 5)
    assert _state_tree_hashes(base) == before
    assert len(calls) == 2

    # (d) an empty batch runs no body and leaves the next index at 1
    deliver(batch.limit(0), 6)
    assert len(calls) == 2
    deliver(batch, 7)
    assert calls[-1] == (7, 1)


def test_ann_ingest_ttl_expiry_fires_and_bounds_store(spark):
    """r13 retention-bounded ANN ingest (VERDICT r12 task 4): (a) the
    live_rows funnel column must show expiry FIRING — at the last
    batch some cell's live count is below its cumulative arrivals —
    and must equal the window sum of that cell's arrivals; (b) with
    compaction forced every batch, the store physically holds ONLY
    live-window vectors (space reclamation, the TTL cascade's
    contract applied to the vector store)."""
    import engine.streaming as S
    from engine.session import scratch_dir, sf_tag

    old = S._DC_COMPACT_FILES
    try:
        S._DC_COMPACT_FILES = 0
        rows = [
            tuple(int(x) for x in (r[0], r[1], r[2], r[4]))
            for r in QUERIES["stream_ann_ingest_ttl"](
                spark, SF_SMOKE
            ).collect()
        ]
    finally:
        S._DC_COMPACT_FILES = old
    # (a) live == window-sum of arrivals per cell; expiry fires
    arr = {(b, c): n for b, c, n, _lv in rows}
    last = max(b for b, *_ in rows)
    fired = False
    for b, c, _n, lv in rows:
        window = sum(
            arr.get((bb, c), 0) for bb in range(b - S._AI_TTL, b + 1)
        )
        assert lv == window, (b, c, lv, window)
        cum = sum(arr.get((bb, c), 0) for bb in range(0, b + 1))
        if b == last and lv < cum:
            fired = True
    assert fired
    # (b) the store holds only live-window rows after the final
    # retention-applying compaction (live = batch_id >= last - TTL)
    tag = sf_tag(SF_SMOKE)
    store = scratch_dir(f"ann_ingest_ttl_store/{tag}")
    stored = spark.read.parquet(store)
    assert stored.filter(F.col("batch_id") < last - S._AI_TTL).count() == 0
    assert stored.count() > 0


def test_ttl_cascade_retention_bounds_ledger_rows(spark):
    """Force compaction every batch (threshold 0): after the run the
    TTL ledgers must hold ONLY live-window rows — steady-state state
    size is O(window), not O(corpus). (Reads filter the window
    regardless; this pins the space-reclamation half.)"""
    import engine.streaming as S
    from engine.session import scratch_dir, sf_tag

    old = S._DC_COMPACT_FILES
    try:
        S._DC_COMPACT_FILES = 0
        QUERIES["stream_dedup_cascade_ttl"](spark, SF_SMOKE).collect()
    finally:
        S._DC_COMPACT_FILES = old
    tag = sf_tag(SF_SMOKE)
    base = scratch_dir(f"dedup_cascade_ttl_state/{tag}")
    # last batch index is 3 (4 slices); its compaction ran with
    # live = batch_id >= 3 - TTL
    floor = 3 - S._DC_TTL
    for store in ("hashes", "buckets"):
        rows = spark.read.parquet(f"{base}/{store}")
        assert rows.filter(F.col("batch_id") < floor).count() == 0, store
        assert rows.count() > 0, store
