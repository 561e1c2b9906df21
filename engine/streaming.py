"""Streaming operators over events (SURVEY.md §2 Table B stream_* keys).

Two tiers per SURVEY.md §7.1 step 6:
- batch-window forms (tumbling / sliding / session): the SAME
  `F.window` / `F.session_window` functions Spark uses under
  readStream, executed in batch so they are DuckDB-oracle-checkable.
- true Structured Streaming variants: a deterministic file-source
  replay of events (ordered parquet slices with controlled modification
  times → stable trigger batching), watermarked window aggregation in
  append mode, streaming dedup, and arbitrary-state running counts via
  applyInPandasWithState. The replay pins arrival order AND batch
  boundaries (distinct mtimes × maxFilesPerTrigger), which makes even
  the watermark/timer keys FULLY SQL-ORACLED: the oracle replays the
  micro-batch watermark recurrence over the materialized slice files
  (artifact-pinned, the LSH/kmeans contract). The empirically-pinned
  semantics (validated row-for-row at sf0.01, 3361/9540-row outputs):
  Spark keeps TWO watermarks per batch — the LATE-EVENTS filter uses
  the PREVIOUS batch's watermark (one-batch lag) while state EVICTION
  / append emission uses the current one (max event-time of all prior
  batches, ms-floored, minus the delay); event-time timers fire against
  the eviction watermark, including one final empty batch that runs
  when the last data batch advanced the watermark.

Scale notes: event-time state is keyed by (window, type) / (user) —
state store shards by key; the watermark bounds state size, which is
what makes unbounded streams feasible at all. The replay fixture is
driver-built (test harness only, not an operator path).

Checkpoint files: every streaming query the engine starts goes through
:func:`_run_stream`, which picks Spark's FileSystem-API checkpoint
manager (FileSystemBasedCheckpointFileManager) whenever the checkpoint
root is local — an unset ``spark.sql.streaming.checkpointLocation``
(Spark then checkpoints into a private temp dir) or an engine-owned
scratch run dir. Spark's default FileContext-API manager renames
through Hadoop's local FileContext, which without the native Hadoop
library shells out (readlink/chmod child processes) on every offset,
commit and state-store file: thousands of forks per replay. The switch
is safe there because each of those roots has exactly one writer (the
query that created it) and a local POSIX rename is atomic, so the
offset, commit and state logs keep their write-once guarantees; Spark
still wraps the manager in its checksum manager for state files. A
root the caller points at another filesystem (an object store has no
atomic rename) keeps Spark's default manager, and the manager is set
only for the engine's own query starts, never session-wide.
"""

from __future__ import annotations

import json
import os
from typing import Callable
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from engine.canon import dround
from engine.registry import register
from engine.session import (
    EVENTS_US_SQL,
    T,
    artifact,
    artifact_path,
    oracle_sf,
    scratch_dir,
    session_confs,
    sf_tag,
)
from engine.session import tiny_df as _tiny_df


# --------------------------------------------------------------------------
# Batch-window forms (SQL-oracled)
# --------------------------------------------------------------------------


@register(
    "stream_tumbling",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type, COUNT(*) AS cnt,
           ROUND(SUM(value) * 100) / 100 AS sum_value
    FROM e GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour tumbling count+sum per event_type — `F.window` is the same
    operator batch and stream (epoch-aligned windows == date_trunc)."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_sliding",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT (epoch_us(ts) // 900000000 - k) * 900000000 AS window_start_us,
           COUNT(*) AS cnt,
           ROUND(SUM(value) * 100) / 100 AS sum_value
    FROM e CROSS JOIN generate_series(0, 3) AS g(k)
    WHERE epoch_us(ts) - (epoch_us(ts) // 900000000 - k) * 900000000
          < 3600000000
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour window sliding every 15 min: each event lands in 4 windows
    (the oracle enumerates the k=0..3 shifted buckets explicitly)."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_session",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL}),
    flagged AS (
      SELECT user_id, ts, value,
             -- strictly greater: Spark merges an event at exactly
             -- prev_ts + gap (inclusive session extent, verified in
             -- tests/test_streaming.py boundary test)
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS cnt, ROUND(SUM(value) * 100) / 100 AS sum_value
    FROM sessions GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap (`F.session_window`)
    checked against the classic gaps-and-islands SQL — the two
    formulations must agree exactly (SURVEY.md §4.2)."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "cnt",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# True Structured Streaming (rows-only; deterministic file replay)
# --------------------------------------------------------------------------

_REPLAY_FILES = 8
_MEM_COUNTER = [0]

#: micro-batch structure of the replay (files per trigger; slice index
#: // this = batch id). The watermark-recurrence oracles depend on it.
_FILES_PER_TRIGGER = 4
_WM_DELAY_MS = 600_000  # 10-minute watermark on every true-streaming key


def _jvm_shards(sf: str) -> int:
    """State shard count for JVM-only stateful streaming operators,
    sized to the replay's state volume (the keys/executor sizing a real
    cluster does via submit conf): per-shard commit overhead dominates
    at small state (4 shards beat 16 by ~2.2x at sf0.1, measured r10),
    while at 10x events the trade inverts mildly (8 beats 4 by ~15% at
    sf1x) — so shards grow with the event count, floored at 4, capped
    at the Python-stateful family's 16. Those cost curves were measured
    while every checkpoint and state file still forked shell commands
    (before _run_stream's FileSystem-API manager) and are due for a
    re-measure. Footer-metadata count (~ms); falls back to the
    small-state floor if footers are unreadable."""
    from engine.session import table_rows

    n = table_rows(sf, "events") or 0
    return max(4, min(16, n // 125_000))


#: mtime of replay slice 0; slice k gets _SLICE_T0 + k
_SLICE_T0 = 1_700_000_000


def _write_slice(fp: str, recs: list, cols: list, dtypes: dict, k: int) -> None:
    pd.DataFrame(recs, columns=cols).astype(dtypes).to_parquet(fp, index=False)
    os.utime(fp, (_SLICE_T0 + k, _SLICE_T0 + k))


def _write_slices(
    out: str, recs: list, cols: list, dtypes: dict, n_files: int
) -> int:
    """Write ``recs`` as at most ``n_files`` contiguous parquet slices
    with ascending mtimes, so the file source triggers them in order;
    returns the number of slices written."""
    chunk = max(1, -(-len(recs) // n_files))
    starts = range(0, len(recs), chunk)
    for k, i in enumerate(starts):
        _write_slice(
            os.path.join(out, f"slice_{k:03d}.parquet"),
            recs[i : i + chunk], cols, dtypes, k,
        )
    return len(starts)


def _replay_path(sf: str, late: bool) -> str:
    """Fixture location (:func:`engine.session.artifact_path` on the
    events table) — the artifact-pinned stream_watermark_late oracle
    reads the late slice files by absolute path."""
    return artifact_path("stream_replay_pq", sf, ("events",), "late" if late else "")


def _replay_dir(spark: SparkSession, sf: str, late: bool) -> str:
    """Materialize events as N sequential PARQUET slices (FIXTURES.md
    B5). Modification times increase per file so the file source
    triggers in order. late=True moves the event_id%20==0 sample into
    the LAST file (they arrive after the watermark has passed their
    event time). Parquet (was json through round 5) because the replay
    source is re-scanned once per micro-batch chain per run: columnar
    decode is ~5× cheaper than json line parse at sf0.1 and is also
    what a production stream's file-backed replay/backfill would use."""

    def build(tmp: str) -> None:
        rows = (
            T(spark, sf, "events")
            .select(
                "event_id", F.unix_micros("ts").alias("ts_us"), "user_id",
                "event_type", "value",
            )
            .orderBy("ts_us")
            .collect()  # replay-fixture builder (test harness), not an operator
        )
        main = [r.asDict() for r in rows if not (late and r["event_id"] % 20 == 0)]
        lates = [r.asDict() for r in rows if late and r["event_id"] % 20 == 0]
        cols = ["event_id", "ts_us", "user_id", "event_type", "value"]
        dtypes = {"event_id": "int64", "ts_us": "int64", "user_id": "int64",
                  "value": "float64"}
        n = _write_slices(tmp, main, cols, dtypes, _REPLAY_FILES)
        if late:
            _write_slice(
                os.path.join(tmp, f"slice_{n:03d}_late.parquet"), lates, cols, dtypes, n
            )

    return artifact(_replay_path(sf, late), build)


_REPLAY_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, value double"
)


def _read_stream(
    spark: SparkSession, path: str, files_per_trigger: int = _FILES_PER_TRIGGER
) -> DataFrame:
    from engine.session import tune

    # state-store shard count freezes at query start — tune() must run
    # even when the replay fixture already exists and no batch loader
    # has touched this session yet
    tune(spark)
    # 4 files per trigger → 2 main batches + the late batch: still a
    # genuine multi-batch run (watermark advances between batches) at
    # half the micro-batch scheduling overhead of smaller triggers
    return (
        spark.readStream.schema(_REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )


#: test hook (duplicate-epoch injection, r13): when set to a callable,
#: every foreachBatch callback is wrapped with it before the stream
#: starts — tests re-deliver each epoch mid-stream and assert funnel
#: rows and ledger bytes are unchanged (the idempotency contract
#: foreachBatch's at-least-once delivery requires). None in production.
_DC_BATCH_WRAPPER = None

_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
#: see the module docstring for why this is safe on local roots
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _fs_manager_safe(root: str | None) -> bool:
    """Whether a query checkpointing under ``root`` may use
    _FS_CKPT_MANAGER: an unset root (Spark's private temp dir) or a
    local path. Any other scheme (object stores, HDFS, ...) keeps
    Spark's default manager."""
    return root is None or urlsplit(root).scheme in ("", "file")


def _run_stream(
    stream_df: DataFrame,
    sink: Callable,
    *,
    shards: int | None = None,
    confs: dict[str, str] | None = None,
    checkpoint: str | None = None,
) -> None:
    """Run ``stream_df`` to termination under Trigger.AvailableNow —
    the one place the engine starts a streaming query. ``sink`` maps
    the DataStreamWriter to a configured one (format / foreachBatch /
    output mode; see :func:`_foreach_batch`). For the query's start the
    session gets the state shard count ``shards`` (shuffle partitions
    freeze into the state layout at start), the per-site ``confs``, and
    the FileSystem-API checkpoint manager when the checkpoint root —
    ``checkpoint`` or else the session's checkpointLocation — is local
    (:func:`_fs_manager_safe`). The query runs on a clone of the session
    taken at start, so every conf is restored once it terminates and
    batch queries keep the session's own settings."""
    spark = stream_df.sparkSession
    settings = dict(confs or {})
    if shards is not None:
        settings["spark.sql.shuffle.partitions"] = str(shards)
    root = checkpoint or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None
    )
    if _fs_manager_safe(root):
        settings[_CKPT_MANAGER_KEY] = _FS_CKPT_MANAGER
    w = sink(stream_df.writeStream)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    with session_confs(spark, settings):
        w.trigger(availableNow=True).start().awaitTermination()


def _foreach_batch(fn: Callable) -> Callable:
    """``sink`` for :func:`_run_stream`: foreachBatch(fn), wrapped by
    the _DC_BATCH_WRAPPER test hook when one is set."""
    cb = fn if _DC_BATCH_WRAPPER is None else _DC_BATCH_WRAPPER(fn)
    return lambda w: w.foreachBatch(cb)


def _slice_stream(spark: SparkSession, schema: str, path: str) -> DataFrame:
    """File-source replay of ``path`` with one slice file per
    micro-batch (slices == batches)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _run_to_memory(
    stream_df: DataFrame,
    mode: str,
    shards: int = 16,
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink; returns the sink table.

    ``shards`` = state shard count (shuffle partitions freeze into the
    state layout at query start). Default 16: 32 is pure per-batch
    state-store commit overhead at replay scale, while 4-8
    under-parallelize the PYTHON stateful workers (measured: 16 beats 8
    by ~16% and 4 by ~30% on the stateful family). JVM-only stateful
    operators (the stream-stream join) have no Python workers to feed
    and their replay cost is LINEAR in shard count (~0.25 s/shard of
    commit overhead measured r10: 32→8.0 s, 16→4.75, 8→2.96, 4→2.30,
    2→1.95, identical results) — they pass a smaller value. These shard
    costs were measured while every checkpoint and state file still
    forked shell commands (before _run_stream's FileSystem-API manager)
    and are due for a re-measure. A real cluster sizes this to
    keys/executor via submit conf instead. ``confs`` are extra per-query
    session confs (_run_stream restores them).

    The sink's temp view is dropped as soon as the DataFrame over it
    exists: the DataFrame keeps the rows alive for the caller, and the
    session no longer pins one ``stream_mem_N`` table per run."""
    _MEM_COUNTER[0] += 1
    name = f"stream_mem_{_MEM_COUNTER[0]}"
    spark = stream_df.sparkSession
    try:
        _run_stream(
            stream_df,
            lambda w: w.format("memory").queryName(name).outputMode(mode),
            shards=shards,
            confs=confs,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _wm_late_oracle_sql() -> str:
    """Micro-batch watermark recurrence replayed in pure SQL over the
    materialized slice files (artifact-pinned; the fixture SF resolves
    from SPARK_GRAFT_ORACLE_SF like the scan oracles, so cross-SF sims
    compare like against like — the driver's default stays sf0.01):

    - batch id = slice index // {fpt} (the replay's maxFilesPerTrigger
      structure; mtimes are distinct so trigger grouping is total),
    - the LATE-EVENTS filter for batch b uses the watermark of batch
      b-1 — i.e. max event-time (ms-floored) over batches <= b-2 minus
      the delay: Spark keeps two watermark values per batch and the
      late filter lags eviction by one batch (validated row-for-row:
      with the current-batch watermark the oracle under-counts exactly
      the late rows Spark accepts into still-open windows),
    - APPEND emission: a window is in the final sink iff its end <= the
      final EVICTION watermark = max event-time over batches <= B-1
      minus delay (the last batch's stats never drive an eviction here
      because the late slice does not advance the watermark).
    """
    path = _replay_path(oracle_sf(), late=True)
    return f"""
    WITH sl AS (
      SELECT *, regexp_extract(filename, 'slice_(\\d+)', 1)::INT AS si
      FROM read_parquet('{path}/*.parquet', filename=true)
    ),
    bat AS (SELECT *, si // {_FILES_PER_TRIGGER} AS b FROM sl),
    mx AS (SELECT b, MAX(ts_us) // 1000 - {_WM_DELAY_MS} AS wm
           FROM bat GROUP BY b),
    nb AS (SELECT MAX(b) AS last_b FROM bat),
    fwm AS (
      SELECT b.b, COALESCE(MAX(m.wm), 0) AS f
      FROM (SELECT DISTINCT b FROM bat) b
      LEFT JOIN mx m ON m.b <= b.b - 2 GROUP BY b.b
    ),
    evw AS (SELECT COALESCE(MAX(m.wm), 0) AS e
            FROM mx m, nb WHERE m.b <= nb.last_b - 1),
    win AS (
      SELECT bat.event_type,
             (ts_us - ts_us % 3600000000) AS wstart_us,
             (ts_us - ts_us % 3600000000 + 3600000000) // 1000 AS wend_ms,
             f.f
      FROM bat JOIN fwm f ON f.b = bat.b
    )
    SELECT wstart_us AS window_start_us, event_type, COUNT(*) AS cnt
    FROM win, evw
    WHERE wend_ms > f AND wend_ms <= evw.e
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("stream_watermark_late", sql=_wm_late_oracle_sql)
def stream_watermark_late(spark: SparkSession, sf: str) -> DataFrame:
    """True streaming run: 10-minute watermark, 1-hour tumbling counts,
    APPEND mode (only watermark-finalized windows emit). The replay
    delivers a 5% sample 'late' in the final batch — events whose window
    already closed are dropped, the observable watermark semantics.
    In-order-replay equivalence to the batch form is asserted in tests.

    FULLY VALUE-ORACLED (upgraded from rows-only): the replay's batch
    boundaries are deterministic (distinct slice mtimes ×
    maxFilesPerTrigger), so the whole micro-batch watermark recurrence
    — including Spark's one-batch-lagged late-events filter vs the
    current-batch eviction watermark — unrolls in pure SQL over the
    materialized slice files (see _wm_late_oracle_sql; the so_kmeans /
    LSH artifact-pinned contract: the Spark run builds the fixture the
    oracle then reads)."""
    path = _replay_dir(spark, sf, late=True)
    s = _read_stream(spark, path)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "cnt",
        )
    )
    # JVM-only windowed agg: state-sized shard count (_jvm_shards)
    return _run_to_memory(agg, "append", shards=_jvm_shards(sf))


@register(
    "stream_dedup_watermark",
    sql="""
    SELECT event_type, COUNT(*) AS cnt FROM events
    GROUP BY event_type ORDER BY event_type
""",
)
def stream_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark) — the bounded-state form of
    dropDuplicates; summarized per type for a stable small result.

    FULLY VALUE-ORACLED (upgraded from rows-only): event_id is unique
    and the replay is in event-time order, so nothing is a duplicate
    and nothing arrives below the (one-batch-lagged) late-events
    watermark — every source row must flow through the streaming dedup
    into the sink, and the oracle is the plain per-type count over the
    SOURCE table. That the streaming run reproduces the batch relation
    exactly (state carried across 2 micro-batches, watermark advancing
    between them) IS the checked property; the fixture is fingerprinted
    on the source so a regenerated events table rebuilds it."""
    path = _replay_dir(spark, sf, late=False)
    s = _read_stream(spark, path).withWatermark("ts", "10 minutes")
    deduped = s.dropDuplicatesWithinWatermark(["event_id"])
    # JVM-only dedup state: state-sized shard count (_jvm_shards)
    out = _run_to_memory(deduped, "append", shards=_jvm_shards(sf))
    return out.groupBy("event_type").agg(F.count("*").alias("cnt")).orderBy(
        "event_type"
    )


def _count_state_fn(key, pdfs, state: GroupState):
    """Running per-user event count (arbitrary stateful op)."""
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "cnt": [total]})


@register(
    "stream_stateful_count",
    sql="""
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user counts updated every micro-batch (state = one counter per
    user; the state store shards by user_id at scale). Final value per
    user must equal the batch count — which makes the batch GROUP BY
    the full SQL oracle (no watermark, in-order replay of the complete
    fixture: nothing is ever dropped, so streaming final state ≡ batch).
    """
    path = _replay_dir(spark, sf, late=False)
    s = _read_stream(spark, path)
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("cnt", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])
    updates = (
        s.groupBy("user_id")
        .applyInPandasWithState(
            _count_state_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    mem = _run_to_memory(updates, "update")
    # memory sink in update mode appends one row per key per batch;
    # the running maximum is the final count
    return mem.groupBy("user_id").agg(F.max("cnt").alias("cnt")).orderBy("user_id")


def _tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python worker
    env (its state-server protocol is proto-based); absent here, so the
    operator gates itself (SURVEY.md §2: transformWithState primary,
    applyInPandasWithState the documented fallback)."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "stream_stateful_tws",
    sql="""
    SELECT user_id, COUNT(*) AS cnt
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_tws(spark: SparkSession, sf: str) -> DataFrame:
    """Same running per-user count via the Spark 4 transformWithState
    API (StatefulProcessor + typed value state, RocksDB-backed) — the
    successor to applyInPandasWithState with finer state/timer control.
    Falls back to the applyInPandasWithState implementation when the
    protobuf dependency is missing (this container), so the operator
    surface is available everywhere and upgrades itself when the
    dependency exists.

    SQL-oracled (r4, was rows-only): the oracle is implementation-
    independent — on the complete in-order replay with no watermark,
    the FINAL per-user state must equal the batch GROUP BY count
    whichever state backend executed (the same argument that oracles
    stream_stateful_count)."""
    if not _tws_available():
        return stream_stateful_count(spark, sf)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n LONG")

        def handleInputRows(self, key, rows, timerValues):
            total = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self._n.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "cnt": [total]})

        def close(self) -> None:
            pass

    path = _replay_dir(spark, sf, late=False)
    s = _read_stream(spark, path)
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("cnt", LongType())]
    )
    updates = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState REQUIRES the RocksDB provider, but the conf is
    # session-wide — without restore it leaks into every streaming key
    # that runs later in the same session (measured: stream_stream_join
    # 4.5 s solo vs 5.1 s in-sweep under the leaked provider; review
    # r10). The runner restores the prior provider after the query.
    mem = _run_to_memory(
        updates,
        "update",
        confs={
            "spark.sql.streaming.stateStore.providerClass": "org.apache."
            "spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        },
    )
    return mem.groupBy("user_id").agg(F.max("cnt").alias("cnt")).orderBy("user_id")


@register(
    "stream_stream_join",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL}),
    v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
          FROM e WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
          FROM e WHERE event_type = 'purchase')
    SELECT view_id, purchase_id, v.user_id AS user_id
    FROM v JOIN p ON v.user_id = p.user_id
     AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 5 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to views by the
    same user within the preceding 5 minutes — both sides streaming,
    both watermarked (the watermark + the join's time bound is what lets
    Spark evict view state; without them state grows forever). On the
    in-order replay every batch-join pair emits, asserted against the
    batch band join in tests.

    Wall-clock (r1 fix, was the slowest key at toy scale): ONE file
    source feeds both sides (the second readStream re-listed and
    re-parsed every slice), and the replay runs as a single availableNow
    trigger — the join state machinery (shard-by-user state insert/
    probe + watermark-bound eviction) is identical; what's removed is
    per-micro-batch scheduling overhead, which at 100 TB is noise but
    at replay scale dominated."""
    path = _replay_dir(spark, sf, late=False)
    src = _read_stream(spark, path, files_per_trigger=_REPLAY_FILES)
    v = (
        src
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    p = (
        src
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        "view_id", "purchase_id", F.col("v_user").alias("user_id")
    )
    # state-sized shard count, not the Python-stateful family's 16:
    # this join is JVM-only and its replay wall is linear in shard
    # commit overhead (see _run_to_memory/_jvm_shards) — 4.75 s → 2.30 s
    # measured at sf0.1
    return _run_to_memory(joined, "append", shards=_jvm_shards(sf))


@register(
    "stream_static_join",
    sql="""
    SELECT n_name, COUNT(*) AS cnt,
           ROUND(SUM(value) * 100) / 100 AS sum_value
    FROM events JOIN nation ON events.user_id % 25 = nation.n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-STATIC join: the streaming fact side joins a static
    dimension (nation, via user_id % 25 as the affinity key). The static
    side broadcasts — NO state store is involved (unlike stream-stream
    joins): each micro-batch hash-joins against the in-memory dim, the
    canonical shape for enriching a 100 TB/day stream with slowly
    changing dimensions. Summarized per nation; equals the batch join
    exactly on the in-order replay (asserted in tests)."""
    path = _replay_dir(spark, sf, late=False)
    s = _read_stream(spark, path, files_per_trigger=_REPLAY_FILES)
    dim = F.broadcast(
        T(spark, sf, "nation").select("n_nationkey", "n_name")
    )
    enriched = (
        s.withColumn("nk", (F.col("user_id") % 25).cast("int"))
        .join(dim, F.col("nk") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
    )
    # JVM-only broadcast join + agg: state-sized shard count
    out = _run_to_memory(enriched, "complete", shards=_jvm_shards(sf))
    return out.select(
        "n_name", "cnt", dround("sum_value", 2).alias("sum_value")
    ).orderBy("n_name")


@register(
    "stream_foreachbatch_upsert",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value) * 100) / 100 AS sum_value
    FROM e GROUP BY event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized aggregate via foreachBatch — the
    canonical streaming-ETL sink pattern: each micro-batch computes its
    partial aggregate and MERGES it into a persisted state table
    (read previous state → union → re-aggregate → write new version;
    with a table format this is MERGE INTO). State is aggregate-sized
    (one row per event_type), so the merge cost is independent of
    stream volume. Because count/sum are algebraic, the final state
    must equal the one-shot batch aggregate — which is exactly the
    ORACLE, making this the one true-streaming key with a full value-
    hash check."""
    path = _replay_dir(spark, sf, late=False)
    tag = sf_tag(sf)
    base = scratch_dir(f"fb_upsert/{tag}")
    state = {"cur": None}
    # the state table's schema is fixed by the aggregate below — pass
    # it explicitly so the per-epoch re-read never pays driver-side
    # footer inference (guide §6 / the §6b schema-memo finding: ~0.1 s
    # per inferred read, once per epoch here)
    state_schema = "event_type string, cnt bigint, sum_value double"

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        part = batch_df.groupBy("event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("sum_value")
        )
        if state["cur"] is not None:
            prev = sp.read.schema(state_schema).parquet(state["cur"])
            part = prev.unionByName(part).groupBy("event_type").agg(
                F.sum("cnt").alias("cnt"), F.sum("sum_value").alias("sum_value")
            )
        new_dir = f"{base}/v{epoch_id}"
        part.write.mode("overwrite").parquet(new_dir)
        state["cur"] = new_dir

    _run_stream(
        _read_stream(spark, path, files_per_trigger=4),
        _foreach_batch(upsert),
        shards=16,
    )
    final = spark.read.schema(state_schema).parquet(state["cur"])
    return final.select(
        "event_type", "cnt", dround("sum_value", 2).alias("sum_value")
    )


def _session_timeout_fn(key, pdfs, state: GroupState):
    """Event-time-timeout sessionizer: state = (session_start_us,
    last_seen_us, n_events). New events extend the open session or —
    when they arrive after a closed gap — emit the finished session and
    open a new one. The state TIMEOUT (watermark passing last_seen +
    gap) closes the final session of an idle user, the case a
    batch-at-a-time formulation can't express."""
    GAP_US = 1800 * 1_000_000
    rows = []
    if state.hasTimedOut:
        st, last, n = state.get
        rows.append((key[0], st, n))
        state.remove()
    else:
        ev_us = []
        for pdf in pdfs:
            ev_us.extend(int(v) for v in pdf["ts_us"])
        ev_us.sort()
        if state.exists:
            st, last, n = state.get
        else:
            st, last, n = ev_us[0], ev_us[0], 0
        for t in ev_us:
            if t - last > GAP_US:
                rows.append((key[0], st, n))
                st, n = t, 0
            n += 1
            last = t
        state.update((st, last, n))
        # close the session when the watermark passes last + gap
        state.setTimeoutTimestamp((last + GAP_US) // 1000)
    if rows:  # empty-yield skipped: DataFrame construction per group
        # per batch is the dominant Python cost for quiet groups
        yield pd.DataFrame(rows, columns=["user_id", "session_start_us", "n_events"])


#: the custom stateful sessionizer replayed in pure SQL over the events
#: the slice files are cut from (every event, in event-time order; the
#: replay's batch boundaries never change membership): gap-islands give
#: every session; a session reaches the APPEND sink iff (a) it is not
#: its user's last (a later event past the gap emitted it from
#: handleInputRows — batch placement is irrelevant to membership), or
#: (b) the EVENT-TIME TIMER fired: the final eviction watermark (max
#: event-time over all batches, ms-floored, minus the 10-min delay —
#: availableNow runs one last empty batch because the final data batch
#: advanced the watermark) passed last_seen + gap. Users still active
#: within (gap + delay) of stream end keep their last session open
#: forever — exactly the unbounded-stream truth.
_SESSION_TIMEOUT_SQL = f"""
    WITH sl AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM ({EVENTS_US_SQL})
    ),
    wmf AS (SELECT MAX(ts_us) // 1000 - {_WM_DELAY_MS} AS w FROM sl),
    seq AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                                ORDER BY ts_us)
                    > 1800000000
                  OR LAG(ts_us) OVER (PARTITION BY user_id
                                      ORDER BY ts_us) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM sl
    ),
    grp AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS g
      FROM seq
    ),
    sess AS (
      SELECT user_id, g, MIN(ts_us) AS start_us, MAX(ts_us) AS last_us,
             COUNT(*) AS n
      FROM grp GROUP BY 1, 2
    ),
    lastg AS (SELECT user_id, MAX(g) AS lg FROM sess GROUP BY 1)
    SELECT s.user_id, s.start_us AS session_start_us,
           CAST(s.n AS BIGINT) AS n_events
    FROM sess s JOIN lastg l ON l.user_id = s.user_id, wmf
    WHERE s.g < l.lg OR (s.last_us + 1800000000) // 1000 < wmf.w
    ORDER BY 1, 2
"""


@register("stream_stateful_session_timeout", sql=_SESSION_TIMEOUT_SQL)
def stream_stateful_session_timeout(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization as a CUSTOM stateful operator with EVENT-TIME
    TIMEOUT — the state-lifecycle quadrant the other stream_* keys don't
    cover (NoTimeout counters, built-in session_window). Sessions close
    two ways: a later event arrives beyond the 30-min gap, or the
    WATERMARK passes last_seen+gap and the state times out — the only
    mechanism that ever closes an idle user's final session on an
    unbounded stream (and exactly what bounds state size: every group
    either advances or expires). Equivalence with the batch sessionizer
    win_sessionize_gap is asserted in tests (same per-user session
    counts on the in-order replay).

    FULLY VALUE-ORACLED (upgraded from rows-only): with deterministic
    batch boundaries the timer semantics are a pure function of the
    slice files — see _SESSION_TIMEOUT_SQL. Validated
    row-for-row at sf0.01 (9 540 emitted sessions), including the 141
    final sessions that ONLY the event-time timer emits (fired in the
    final empty batch availableNow runs after the watermark advanced) —
    the exact mechanism a rows-only check could never pin."""
    path = _replay_dir(spark, sf, late=False)
    s = _read_stream(spark, path).withWatermark("ts", "10 minutes")
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("st", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
        ]
    )
    sessions = s.groupBy("user_id").applyInPandasWithState(
        _session_timeout_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out = _run_to_memory(sessions, "append")
    return out.orderBy("user_id", "session_start_us")


# --------------------------------------------------------------------------
# Deterministic rate-source replay (source-matrix completion, SQL-oracled)
# --------------------------------------------------------------------------

_RATE_ROWS_PER_BATCH = 2000
_RATE_BATCHES = 3

_RATE_SQL = f"""
    WITH v AS (
      SELECT UNNEST(generate_series(
        0, {_RATE_ROWS_PER_BATCH * _RATE_BATCHES - 1})) AS v
    )
    SELECT (v // {_RATE_ROWS_PER_BATCH}) // 2 * 2 AS win_start_s,
           COUNT(*) AS cnt,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM v GROUP BY 1 ORDER BY win_start_s
"""


@register("stream_rate_micro_batch", sql=_RATE_SQL)
def stream_rate_micro_batch(spark: SparkSession, sf: str) -> DataFrame:
    """True Structured Streaming over the `rate-micro-batch` SOURCE —
    the generator source whose batches are DETERMINISTIC by contract
    (batch b = values [b·R, (b+1)·R), every row stamped
    startTimestamp + b·advance), which makes it the one true-streaming
    key whose output is fully SQL-oracle-checkable: no replay fixture,
    no arrival-order caveat.

    Termination is the interesting part: `rate-micro-batch` is
    unbounded, but Trigger.AvailableNow processes EXACTLY ONE batch per
    query start against a persistent checkpoint, so N sequential
    start→drain→stop cycles replay exactly batches 0..N−1 through a
    file sink — the restart-recovery path (offsets from the checkpoint,
    exactly-once into the sink) exercised N−1 times, which a
    single-process availableNow run never covers. The windowed rollup
    then runs in batch over the sink (the stream_tumbling two-tier
    contract): 2-second tumbling count + sum over 3 batches 1 s apart
    → windows holding batches {{0,1}} and {{2}}.

    100 TB posture: the source is a generator (no scan); the sink is an
    append-only parquet dir with checkpointed offsets — the shape of
    any replayable ingest. State is bounded by one batch in flight."""
    import shutil
    import uuid

    base = scratch_dir("rate_replay")
    # fresh checkpoint per invocation: batch ids must start at 0 for
    # the output to be deterministic; stale runs are swept first
    shutil.rmtree(base, ignore_errors=True)
    run = os.path.join(base, uuid.uuid4().hex[:12])
    ckpt, out = os.path.join(run, "ckpt"), os.path.join(run, "out")
    for _ in range(_RATE_BATCHES):
        s = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", _RATE_ROWS_PER_BATCH)
            .option("numPartitions", 4)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        _run_stream(
            s,
            lambda w: w.format("parquet").option("path", out)
            .outputMode("append"),
            checkpoint=ckpt,
        )
    rows = spark.read.parquet(out)
    return (
        rows.groupBy(F.window("timestamp", "2 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("win_start_s"),
            "cnt",
            "sum_value",
        )
        .orderBy("win_start_s")
    )


# --------------------------------------------------------------------------
# Streaming dedup cascade (round 10 — the batch cascade's streaming twin)
# --------------------------------------------------------------------------

#: documents replay slices == micro-batches (1 file per trigger)
_DC_FILES = 4


def _doc_replay_path(sf: str) -> str:
    # slice count in the name: a patched _DC_FILES (the scale probe runs
    # fixed-size batches at several corpus sizes) must never be served a
    # fixture sliced under a different count — the oracle's batch
    # boundaries are derived from _DC_FILES at call time
    return artifact_path(
        "stream_doc_replay", sf, ("documents",), f"f{_DC_FILES}"
    )


def _doc_replay_dir(spark: SparkSession, sf: str) -> str:
    """Materialize documents as _DC_FILES sequential parquet slices in
    doc_id order (contiguous chunks of ceil(n/_DC_FILES) rows, ascending
    mtimes) — the events replay contract applied to the corpus table, so
    micro-batch k is EXACTLY slice k and arrival order is doc_id order.
    That determinism is what lets the incremental cascade be fully
    SQL-oracled: "arrived earlier" ≡ "smaller doc_id"."""

    def build(tmp: str) -> None:
        rows = (
            T(spark, sf, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()  # replay-fixture builder (test harness), not an operator
        )
        _write_slices(
            tmp,
            [r.asDict() for r in rows],
            ["doc_id", "text"],
            {"doc_id": "int64"},
            _DC_FILES,
        )

    return artifact(_doc_replay_path(sf), build)


#: the cascade replayed in pure SQL: batch = contiguous doc_id chunk
#: (the fixture's slicing rule), exact stage = first arrival per md5
#: content hash, near stage = ANY earlier EXACT-survivor shares a
#: (band, minhash) bucket under the portable md5 family — the same
#: signature CTEs as dedup_near_minhash's oracle.
_DC_SQL = """
    WITH d AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    db AS (
      SELECT doc_id, text,
             CAST(r // CAST(CEIL(n / {files}.0) AS BIGINT) AS INT) AS batch_id
      FROM d
    ),
    h AS (
      SELECT doc_id, batch_id, text,
             ('0x' || SUBSTR(MD5(COALESCE(text, '')), 1, 15))::BIGINT AS hh
      FROM db
    ),
    ex AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
      FROM h
    ),
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM ex WHERE rn = 1
    ),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    ds AS (SELECT doc_id,
                  UNNEST(LIST_TRANSFORM(sh,
                    s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT
                         % {p})) AS x
           FROM shing WHERE LEN(sh) > 0),
    sig AS (
      SELECT doc_id, band,
             MIN(((2 * band + 1) * x + 12345 * band) % {p}) AS h
      FROM ds CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band)
      GROUP BY doc_id, band
    ),
    nd AS (
      SELECT DISTINCT sb.doc_id
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.h = sb.h AND sa.doc_id < sb.doc_id
    ),
    verdict AS (
      SELECT ex.batch_id,
             CASE WHEN ex.rn > 1 THEN 'exact'
                  WHEN nd.doc_id IS NOT NULL THEN 'near'
                  ELSE 'keep' END AS v
      FROM ex LEFT JOIN nd ON nd.doc_id = ex.doc_id AND ex.rn = 1
    )
    SELECT batch_id,
           COUNT(*) AS arrived,
           COUNT(*) FILTER (WHERE v = 'exact') AS exact_dups,
           COUNT(*) FILTER (WHERE v = 'near') AS near_dups,
           COUNT(*) FILTER (WHERE v = 'keep') AS survivors
    FROM verdict GROUP BY 1 ORDER BY 1
"""


def _dc_oracle_sql() -> str:
    from engine.similarity import _MINHASH_P

    return _DC_SQL.format(files=_DC_FILES, p=_MINHASH_P)


#: target rows per ledger bucket — the knob that sizes the hash-prefix
#: partitioning of the cascade's state stores (B = ceil(N/target),
#: clamped [8, 4096]). At contract SFs the floor of 8 buckets applies —
#: partitioned-append committer overhead is ~linear in directories per
#: batch (measured: B=20 cost ~1 s/batch more than B=8 on a 1,250-doc
#: batch), so the default keeps toy-scale runs lean; the read-pruning
#: machinery is exercised explicitly by tools/cascade_scale.py, which
#: shrinks this to put B >> batch (the production regime). At 100 TB
#: this is the ledger's file-size knob, not a semantics knob.
_DC_LEDGER_TARGET_ROWS = 2048

#: read-volume probe for the scale evidence (tools/cascade_scale.py):
#: when set to a list, each batch appends a dict with the ledgers' total
#: rows (pyarrow footer sum — no Spark job) and the rows the PRUNED
#: per-batch reads actually feed into the ledger joins (post partition
#: prune AND post dynamic IN filter). None in production — the probe's
#: extra count actions exist only under measurement.
_DC_READ_PROBE: list | None = None

#: per-bucket compaction trigger (VERDICT r11 task 1 — the LSM read-amp
#: fix): every batch appends ONE file per touched bucket dir, so after
#: N batches a bucket holds O(N) small files and each pruned read pays
#: O(N) listing/footer costs per touched bucket. When a bucket exceeds
#: this many files it is rewritten as ONE file sorted by its join key
#: (_compact_ledger_buckets). The check runs right after each batch's
#: append, so a bucket never exceeds threshold+1 files at read time,
#: regardless of batch count; raising the knob trades fewer rewrite
#: passes for more files listed per read — the classic LSM trade.
_DC_COMPACT_FILES = 8

#: cap on the dynamic IN-list filter (VERDICT r11 task 7, the
#: Trino-style runtime filter): each batch pushes its distinct hash
#: values into the pruned ledger scans as an IN predicate, so only rows
#: that can possibly join survive the scan (and, via PushedFilters,
#: parquet can dictionary/stats-skip inside sorted bucket files once
#: row groups are production-sized). The list is driver-collected from
#: the batch, so it is capped; a batch with more distinct keys falls
#: back to partition pruning alone — exactly how production engines
#: gate runtime filters on build-side size (at that scale Spark's
#: runtime bloom-filter join is the mechanism instead). 4096 measured
#: free at the contract SFs (r12 sweep: ≈ cap-off wall time), while
#: 32768 — an 18,750-value IN at sf0.1's band side — cost +4 s/run in
#: plan/codegen/eval: IN lists stop being free after a few thousand
#: values, so the cap stays in the same bounded class as _dc_buckets.
_DC_DYNFILTER_CAP = 4096


def _dc_buckets(spark: SparkSession, sf: str) -> int:
    """Ledger bucket count B for this corpus: ceil(N / target), clamped
    to [8, 4096]. N comes from parquet footer metadata (table_rows — no
    Spark job); the cap bounds the per-batch touched-partition collect
    at 4096 ints, driver-sized metadata (the same bounded-by-construction
    class as the ≤32-row bucket-offset relations)."""
    from engine.session import table_rows

    n = table_rows(sf, "documents")
    if n is None:
        n = T(spark, sf, "documents").count()
    return max(8, min(4096, -(-n // _DC_LEDGER_TARGET_ROWS)))


def _dc_batch_parts(sf: str) -> int:
    """Scale-adaptive batch shuffle parallelism (guide §2.2/§2.5) for
    the document replays (dedup cascade, decontamination gate): sized
    from the BATCH row count (corpus rows / slice count, from parquet
    footers — no Spark job), targeting ~2k rows per task, floored at 4
    and capped at the old fixed 16. At contract SFs a batch is a few
    thousand rows and 16 fixed partitions were pure task/commit
    overhead (AQE coalesces post-shuffle reads but the task launch +
    committer cost of the partitioned appends is per-task); at cluster
    scale the setting comes from submit conf exactly as before. Results
    are partition-count-independent (funnel aggregates; one file per
    touched pb dir per epoch either way, since each pb value hashes to
    one task)."""
    from engine.session import table_rows

    nrows = table_rows(sf, "documents") or 0
    per_batch = -(-nrows // _DC_FILES) if nrows else 4096
    return max(4, min(16, per_batch // 2048))


def _ledger_rows(root: str) -> int:
    """Total rows in a ledger store from parquet footers (probe only)."""
    import pathlib

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in pathlib.Path(root).rglob("*.parquet")
    )


def _ledger_files_max(root: str) -> int:
    """Max parquet files in any bucket dir of a ledger (probe only).
    Recursive: bucket dirs hold epoch=<id> subdirs (r13 layout)."""
    import pathlib

    return max(
        (
            sum(1 for _ in d.rglob("*.parquet"))
            for d in pathlib.Path(root).glob("*=*")
        ),
        default=0,
    )


def _dc_bands_of():
    """Build the cascade's MinHash band-signature mapper with the
    whole signature pipeline PREBUILT as ONE SQL string (the r11
    finding: the equivalent nested F.transform/F.pmod lambda tree
    costs seconds of py4j round-trips just CONSTRUCTING the plan, and
    foreachBatch would pay that construction EVERY batch). Arithmetic
    is expression-for-expression the dedup_near_minhash Column form
    (verified bit-identical funnels at all 3 contract SFs), with the
    hash primitive inlined per fast_hash(). Shared by the unbounded
    cascade and the r12 TTL variant — both must bucket identically."""
    from engine.session import fast_hash
    from engine.similarity import _MINHASH_P, _shingles

    h_sql = (
        "xxhash64(s) & 1152921504606846975"
        if fast_hash()
        else "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
    )
    sig_sql = (
        "posexplode(transform(sequence(0, 5), i -> array_min(transform("
        f"transform(sh, s -> pmod({h_sql}, {_MINHASH_P})), "
        "x -> pmod(cast(2 * i + 1 as bigint) * x + cast(i as bigint)"
        f" * 12345, {_MINHASH_P})"
        "))))"
    )

    def bands_of(df: DataFrame) -> DataFrame:
        shingled = (
            df.select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.size("toks") >= 5)
            .select("doc_id", F.array_distinct(_shingles()).alias("sh"))
            .filter(F.size("sh") > 0)
        )
        return shingled.select("doc_id", F.expr(sig_sql).alias("band", "h"))

    return bands_of


def _sql_in(col: str, vals) -> Column:
    """Dynamic IN-list as ONE parsed SQL string. Column.isin(…) builds
    a py4j literal PER VALUE — measured ~10 s/run at a few-thousand-
    value lists (the r11 plan-construction lesson in filter form);
    a single expr() string parses in milliseconds. Values are ints,
    sorted so the plan text is deterministic. An empty list means "no
    rows can match" (e.g. an all-short-docs batch claims no buckets)."""
    if not vals:
        return F.lit(False)
    return F.expr(f"{col} in ({','.join(str(v) for v in sorted(vals))})")


def _compact_ledger_buckets(
    sp: SparkSession,
    root: str,
    part_col: str,
    sort_cols: list[str],
    retain: Column | None = None,
) -> int:
    """Threshold-triggered compaction of an append-only hash-prefix-
    partitioned ledger (VERDICT r11 task 1): every bucket dir holding
    more than _DC_COMPACT_FILES parquet files is rewritten as ONE
    file, sorted by the bucket's join key (task 7 — sorted files give
    parquet row groups tight min/max + dictionary stats, so the pushed
    dynamic IN filter can skip inside a bucket once row groups are
    meaningful at production bucket sizes; at toy scale a bucket is a
    single row group and the win is file-count alone).

    ALL due buckets compact in ONE Spark job: the due dirs are read
    with partition discovery (basePath) and written back through
    DYNAMIC partition overwrite, which replaces exactly the partitions
    present in the frame and leaves every other bucket's files
    untouched. The first cut rewrote each bucket as its own read+write
    job — measured ~90 jobs/batch in the cascade_scale regime (B=3125,
    many buckets crossing the threshold together) and 30+ s/batch of
    pure job-scheduling overhead; the single-job shape is the one that
    survives B at the 4096 cap. Driver cost when nothing is due is a
    filesystem listing over ≤ B dirs, no Spark job. foreachBatch
    serializes batches, so the overwrite never races a reader.

    Layout contract (r13): roots are partitioned by (part_col, epoch)
    — each batch's appends land in the epoch-keyed subdir of every
    bucket they touch (the idempotent-redelivery unit). Compaction
    folds all of a due bucket's epoch generations into the epoch=-1
    COMPACTED sentinel partition, and deletes the folded source dirs
    (and, on the retain path, fully-expired buckets) only AFTER the
    rewrite commits (ADVICE r12): a failure mid-rewrite leaves every
    source file in place — reads window-filter / join on exact keys,
    so a surviving stale dir is never a correctness hazard, only
    bytes. Only COMMITTED epochs reach compaction (:func:`_epoch_sink`
    marks the epoch before compacting), so a folded epoch can never be
    re-delivered. Bucket partition values compare as STRINGS
    (type-generic across partition-column types, ADVICE r12).
    Returns the number of buckets compacted (incl. expired-deleted)."""
    import pathlib
    import shutil

    due = [
        d
        for d in pathlib.Path(root).glob("*=*")
        if sum(1 for _ in d.rglob("*.parquet")) > _DC_COMPACT_FILES
    ]
    if not due:
        return 0
    overwrite = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with session_confs(sp, overwrite):
        df = sp.read.option("basePath", root).parquet(*[str(d) for d in due])
        if retain is not None:
            # retention-applying compaction (the TTL cascade): expired
            # rows are dropped DURING the rewrite — pure space
            # reclamation, since every read already filters the live
            # window; correctness never depends on when compaction ran
            df = df.filter(retain)
            # dynamic overwrite only replaces partitions PRESENT in the
            # frame — a fully-expired bucket would keep its dead files
            # (and re-trigger every batch), so it is deleted outright
            # (below, after the rewrite commits)
            live = {
                str(r[0]) for r in df.select(part_col).distinct().collect()
            }
            dead = [d for d in due if d.name.split("=", 1)[1] not in live]
            write_due = [d for d in due if d not in dead]
            if dead and write_due:
                # rebuild the frame: the overwrite job re-lists its
                # input, which must not include all-expired dirs (their
                # rows are filtered out anyway; skipping the dirs skips
                # their footers)
                df = (
                    sp.read.option("basePath", root)
                    .parquet(*[str(d) for d in write_due])
                    .filter(retain)
                )
        else:
            dead, write_due = [], due
        if write_due:
            (
                df.withColumn("epoch", F.lit(-1))
                .repartition(part_col)
                .sortWithinPartitions(part_col, *sort_cols)
                .write.mode("overwrite")
                .partitionBy(part_col, "epoch")
                .parquet(root)
            )
        # deletes strictly AFTER the overwrite committed (ADVICE r12):
        # a failed rewrite leaves the ledger byte-identical
        for d in dead:
            shutil.rmtree(d)
        for d in write_due:
            for e in d.glob("epoch=*"):
                if e.name != "epoch=-1":
                    shutil.rmtree(e)
    return len(due)


def _epoch_marker(base: str, epoch_id: int) -> str:
    """Commit marker for one foreachBatch epoch (r13 — VERDICT r12 task
    3): written AFTER the epoch's ledger appends commit. Lives under
    the state base's `_epochs/` dir (underscore-prefixed, so Spark's
    file listings ignore it)."""
    return os.path.join(base, "_epochs", str(int(epoch_id)))


def _clear_epoch_leftovers(roots: list[str], epoch_id: int) -> None:
    """Remove ledger files a previously FAILED delivery of this epoch
    left behind: appends are keyed by epoch subdir (…/<part>=<v>/
    epoch=<id>/), so an unmarked epoch's partial writes are exactly the
    epoch-keyed dirs — deleting them makes the redo append-from-clean
    instead of double-appending. Committed (marked) epochs never reach
    this path, so a compaction-folded epoch can never be cleared."""
    import pathlib
    import shutil

    for root in roots:
        for d in pathlib.Path(root).glob(f"*=*/epoch={int(epoch_id)}"):
            shutil.rmtree(d, ignore_errors=True)


def _epoch_sink(base: str, roots: list[str], body: Callable) -> Callable:
    """``sink`` for :func:`_run_stream` that owns the idempotent commit
    protocol of an epoch-keyed state store (r13 — VERDICT r12 task 3).
    foreachBatch delivers at least once: on restart after a failure the
    failed epoch is delivered again. Each delivery of ``epoch_id``:

      1. is a full no-op when the epoch's marker
         (:func:`_epoch_marker` under ``base``) exists — the epoch is
         COMMITTED, its funnel rows and store bytes are already in
         (byte-identical skip, pinned by test);
      2. otherwise removes the ``epoch=<epoch_id>`` dirs under ``roots``
         — the partial appends of a failed delivery — so the redo
         appends from clean instead of double-appending;
      3. returns on an empty batch without calling the body and without
         using up a batch index (defensive, ADVICE r11: later batches
         would shift off the oracles' file-slice numbering);
      4. calls ``body(batch_df, epoch_id, k, submit)``. ``k`` counts the
         committed non-empty epochs, so a redelivered epoch gets the
         same index. The body submits its terminal actions — the
         epoch-keyed appends into ``<part>=<v>/epoch=<epoch_id>`` and
         its funnel action — through ``submit`` (ThreadPoolExecutor.
         submit of the sink's one pool), each as soon as its plan is
         complete, so independent actions overlap (guide §2.6);
      5. joins every submitted action — also when the body raises, so
         no append is still in flight when a redo clears the epoch —
         and only then writes the marker: a failure in any action
         leaves the epoch unmarked for the redo path;
      6. after the commit, runs the follow-up the body returned (its
         funnel bookkeeping and compaction). Compaction after the marker
         means a folded epoch is never re-delivered into a double
         append; a redo that skipped it is covered by the next batch's
         threshold check (compaction is maintenance, never semantics).

    The _DC_BATCH_WRAPPER hook wraps the whole protocol."""
    from concurrent.futures import Future, ThreadPoolExecutor

    committed = [0]

    def deliver(batch_df: DataFrame, epoch_id: int) -> None:
        marker = _epoch_marker(base, epoch_id)
        if os.path.exists(marker):
            return
        _clear_epoch_leftovers(roots, epoch_id)
        if batch_df.isEmpty():
            return
        submitted: list[Future] = []
        with ThreadPoolExecutor(max_workers=3) as pool:

            def submit(fn: Callable, *args) -> Future:
                f = pool.submit(fn, *args)
                submitted.append(f)
                return f

            after = body(batch_df, epoch_id, committed[0], submit)
            for f in submitted:
                f.result()
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()
        committed[0] += 1
        if after is not None:
            after()

    return _foreach_batch(deliver)


def _run_dedup_cascade(
    spark: SparkSession,
    sf: str,
    state_name: str,
    ttl: int | None,
    prefilter=None,
) -> DataFrame:
    """The ONE batch body behind stream_dedup_cascade (ttl=None,
    unbounded set-semantics ledgers) and stream_dedup_cascade_ttl
    (ttl=_DC_TTL, last-seen-refresh ledgers with window-filtered reads
    and retention-applying compaction) — VERDICT r12 task 7: the two
    operators previously duplicated ~200 lines of rank/prune/dynfilter/
    band machinery differing only in the live filter and append stamps;
    a fix applied to one and missed in the other was the likeliest bug
    vector. Semantics per mode are documented on the registered
    wrappers; every plan decision (prebuilt SQL expressions, capped
    dynamic IN, localCheckpoint placement, threshold compaction) is
    shared and was A/B-measured in r11/r12 (BASELINE.md). Both ledgers
    commit through :func:`_epoch_sink`, which holds the epoch protocol.

    ``prefilter`` (late r13 — the fused ingest pipeline): an optional
    per-batch gate, called as prefilter(batch_df, k, submit) BEFORE any
    hashing; rows it removes never touch the ledgers (the state-size
    win fusion exists for). A batch the gate empties still flows
    through — zero funnel row, epoch committed — so idempotency is
    unchanged (_sql_in treats empty key sets as match-nothing)."""
    import pathlib
    import shutil

    from pyspark.sql import Window

    from engine.session import hash60, tune

    tune(spark)
    path = _doc_replay_dir(spark, sf)
    tag = sf_tag(sf)
    base = scratch_dir(f"{state_name}/{tag}")
    # fresh ledgers per run: the roots are append-only during the run,
    # so a prior run's rows must not leak in
    shutil.rmtree(base, ignore_errors=True)
    hroot = os.path.join(base, "hashes")
    broot = os.path.join(base, "buckets")
    nbuckets = _dc_buckets(spark, sf)
    parts = _dc_batch_parts(sf)
    state = {"has_h": False, "has_b": False}
    funnel: list[tuple[int, int, int, int, int]] = []
    bcol = F.lit(nbuckets)

    bands_of = _dc_bands_of()

    # explicit ledger read schemas (guide §6): without a user schema
    # every per-batch `read.parquet(root)` runs a one-task footer-
    # inference JOB before the real scan — 2 extra sequential jobs per
    # batch, pure driver latency. The schemas are fixed by the append
    # code below; partition columns (pb/pbb, epoch) are declared too so
    # discovery only parses dir names.
    ttl_extra = ", batch_id int" if ttl is not None else ""
    h_schema = f"hh long{ttl_extra}, pb int, epoch int"
    b_schema = f"band int, h long{ttl_extra}, pbb int, epoch int"

    def cascade(batch_df: DataFrame, epoch_id: int, k: int, submit: Callable):
        sp = batch_df.sparkSession
        if prefilter is not None:
            batch_df = prefilter(batch_df, k, submit)
        # COALESCE before hashing: md5(NULL) is NULL, and a NULL hh
        # never equi-matches the ledger — NULL-text docs hash as ''
        # so they dedupe as ONE group on both engines (review r10).
        ranked = (
            batch_df.select("doc_id", "text")
            .withColumn("hh", hash60(F.coalesce(F.col("text"), F.lit(""))))
            .withColumn("pb", F.pmod("hh", bcol).cast("int"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("hh").orderBy("doc_id")
                ),
            )
        )
        # TTL mode: a sighting only counts within the live window —
        # ledger reads filter it, and compaction drops what expired
        live = (
            F.col("batch_id") >= F.lit(k - ttl) if ttl is not None else None
        )
        if state["has_h"]:
            # KNOWN double-compute (ADVICE r11, measured and kept): the
            # key collect below is an action, so ranked's hash+window
            # runs for it and AGAIN when lab materializes. The fix —
            # localCheckpoint(ranked) before collecting — was A/B'd at
            # r12 and is ~1.3 s/run SLOWER at sf0.01/sf0.1 (the extra
            # eager checkpoint job costs more than the recompute, the
            # same shape as r11's folded-join negative result), so the
            # double-compute stays, on purpose.
            # the batch's join keys — ONE bounded collect driving BOTH
            # pruning levels: pb values prune ledger partitions
            # (≤ min(batch, B) ≤ 4096 dirs listed), hh values ride as a
            # dynamic IN filter into the pruned scan (the Trino-style
            # runtime filter, VERDICT r11 task 7) so only ledger rows
            # that can possibly equi-join survive the scan; over the
            # cap, partition pruning alone (see _DC_DYNFILTER_CAP)
            keys = (
                ranked.select("pb", "hh")
                .distinct()
                .limit(_DC_DYNFILTER_CAP + 1)
                .collect()
            )
            prev_h = sp.read.schema(h_schema).parquet(hroot)
            if live is not None:
                prev_h = prev_h.filter(live)
            if len(keys) <= _DC_DYNFILTER_CAP:
                prev_h = prev_h.filter(
                    _sql_in("pb", {r["pb"] for r in keys})
                ).filter(_sql_in("hh", {r["hh"] for r in keys}))
            else:
                pbs = {
                    r[0] for r in ranked.select("pb").distinct().collect()
                }
                prev_h = prev_h.filter(_sql_in("pb", pbs))
            if _DC_READ_PROBE is not None:
                _probe_h = (_ledger_rows(hroot), prev_h.count())
            # the seen flag needs existence, not multiplicity: the
            # unbounded ledger is a SET by construction (survivor
            # hashes are anti-filtered before append), the TTL ledger
            # carries one sighting per (hash, batch) and needs the
            # distinct
            seen_h = prev_h.select("pb", "hh")
            if ttl is not None:
                seen_h = seen_h.distinct()
            lab = ranked.join(
                seen_h.withColumn("seen", F.lit(1)), ["pb", "hh"], "left"
            )
        else:
            if _DC_READ_PROBE is not None:
                _probe_h = (0, 0)
            lab = ranked.withColumn("seen", F.lit(None).cast("int"))
        # localCheckpoint LAB (not its survivor filter): consumed 3×
        # below (bands, store append, the funnel aggregate) — its
        # recompute source is the checkpointed ranked + ONE pruned
        # ledger read, and each batch's lineage would otherwise stack
        lab = lab.localCheckpoint()
        # exact survivors: first in-batch arrival of an unseen hash
        surv_e = lab.filter(
            (F.col("rn") == 1) & F.col("seen").isNull()
        ).select("doc_id", "text", "hh", "pb")
        # The hash-ledger append depends ONLY on the checkpointed lab,
        # so it is submitted as soon as lab exists and runs overlapped
        # with the whole band-signature critical path below (guide
        # §2.6) — previously it queued behind bands/bkeys/funnel at the
        # end of the batch, serializing a write-job latency per batch.
        # TTL mode: the bucket append too (its rows need no anti-join
        # in TTL mode), overlapping it with the bkeys collect + pruned
        # store read.
        ecol = F.lit(int(epoch_id))
        if ttl is None:
            new_h = surv_e.select("pb", "hh")
        else:
            new_h = (
                lab.filter(F.col("rn") == 1)
                .select("pb", "hh")
                .withColumn("batch_id", F.lit(k))
            )

        def _w_h() -> None:
            new_h.withColumn("epoch", ecol).repartition(
                "pb"
            ).sortWithinPartitions("pb", "hh").write.mode(
                "append"
            ).partitionBy("pb", "epoch").parquet(hroot)

        submit(_w_h)
        # repartition BEFORE the MinHash signature expression (guide
        # §2.5 input skew / §4 per-task work): lab is AQE-coalesced to
        # 1-2 partitions, so without this the shingle+hash pipeline —
        # the batch's single most expensive expression — ran in ONE
        # task (~1 s/batch measured, 4-5× the rest of the batch's
        # stages combined). The shuffle moves only the survivors' (id,
        # text) once; signature results are set-semantics downstream,
        # so row placement cannot affect any output.
        bands_b = (
            bands_of(surv_e.select("doc_id", "text").repartition(parts))
            .withColumn("pbb", F.pmod("h", bcol).cast("int"))
            .localCheckpoint()  # consumed 4×: self-join ×2, semi, append
        )
        in_batch = (
            bands_b.alias("a")
            .join(
                bands_b.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("b.doc_id").alias("doc_id"))
        )

        # O(batch) appends into the partitions the rows hash to, keyed
        # by epoch subdir (the _epoch_sink redelivery unit).
        # Unbounded mode: the batch's survivor hashes are new by
        # construction (seen-flag filter above), bucket rows are
        # anti-joined against the pruned store read so the ledger stays
        # a SET without being rewritten. TTL mode: EVERY arrival
        # refreshes the clock — the batch's distinct hashes (rn = 1
        # picks one row per hh) append stamped with batch k, no
        # anti-join: the batch column keys recurrence where the
        # unbounded twin needed set semantics.
        # repartition ON the partition column first: without it every
        # shuffle task writes its own file into every pb dir (tasks×B
        # tiny files per batch — measured +4 s/sweep in committer
        # overhead); with it each pb dir gains ONE file per batch.
        # sortWithinPartitions on the join key (VERDICT r11 task 7):
        # sorted files give row groups tight min/max + dictionary
        # stats, so the pushed dynamic IN filter can skip inside a
        # bucket once row groups are meaningful at production sizes
        def _w_b_of(nb: DataFrame):
            def _w_b() -> None:
                nb.withColumn("epoch", ecol).repartition(
                    "pbb"
                ).sortWithinPartitions("pbb", "band", "h").write.mode(
                    "append"
                ).partitionBy("pbb", "epoch").parquet(broot)

            return _w_b

        if ttl is not None:
            # TTL bucket rows need no anti-join, so this append's plan
            # is complete as soon as bands_b is checkpointed — submit
            # it now, overlapped with the bkeys collect + pruned store
            # read below
            submit(
                _w_b_of(
                    bands_b.select("pbb", "band", "h")
                    .distinct()
                    .withColumn("batch_id", F.lit(k))
                )
            )
        if state["has_b"]:
            # same two-level pruning as the hash ledger: pbb partition
            # prune + dynamic IN on the batch's minhash values (h alone
            # — a superset filter of the (band, h) join key, so every
            # possible match survives; bands_b is checkpointed, the
            # collect does not recompute it)
            bkeys = (
                bands_b.select("pbb", "h")
                .distinct()
                .limit(_DC_DYNFILTER_CAP + 1)
                .collect()
            )
            prev_b = sp.read.schema(b_schema).parquet(broot)
            if live is not None:
                prev_b = prev_b.filter(live)
            if len(bkeys) <= _DC_DYNFILTER_CAP:
                prev_b = prev_b.filter(
                    _sql_in("pbb", {r["pbb"] for r in bkeys})
                ).filter(_sql_in("h", {r["h"] for r in bkeys}))
            else:
                pbbs = {
                    r[0] for r in bands_b.select("pbb").distinct().collect()
                }
                prev_b = prev_b.filter(_sql_in("pbb", pbbs))
            if _DC_READ_PROBE is not None:
                _probe_b = (_ledger_rows(broot), prev_b.count())
            vs_store = bands_b.join(
                prev_b, ["pbb", "band", "h"], "left_semi"
            ).select("doc_id")
            near_ids = in_batch.unionByName(vs_store).distinct()
        else:
            if _DC_READ_PROBE is not None:
                _probe_b = (0, 0)
            prev_b = None
            near_ids = in_batch.distinct()
        # ONE funnel action: near_ids ⊆ exact-survivors and exact-drops
        # have rn>1 or seen, so the three labels are disjoint and
        # survivors fall out by difference
        funnel_df = lab.join(
            near_ids.withColumn("isnear", F.lit(1)), "doc_id", "left"
        ).agg(
            F.count(F.lit(1)).alias("arrived"),
            F.count(
                F.when((F.col("rn") > 1) | F.col("seen").isNotNull(), 1)
            ).alias("ex"),
            F.count("isnear").alias("nr"),
        )
        # Unbounded mode: the bucket append's anti-join needs the
        # pruned store read, so its plan only completes here
        if ttl is None:
            new_b = bands_b.select("pbb", "band", "h").distinct()
            if prev_b is not None:
                new_b = new_b.join(prev_b, ["pbb", "band", "h"], "left_anti")
            submit(_w_b_of(new_b))
        # the terminal actions — the funnel aggregate and the two ledger
        # appends — all consume the checkpointed lab/bands_b, so they
        # are independent; each went in at the earliest point its plan
        # was complete
        row = submit(funnel_df.first).result()

        def commit() -> None:
            arrived, n_ex, n_nr = row["arrived"], row["ex"], row["nr"]
            funnel.append((k, arrived, n_ex, n_nr, arrived - n_ex - n_nr))
            # threshold-triggered per-bucket compaction (VERDICT r11
            # task 1): bounds files/bucket regardless of batch count, so
            # pruned reads never pay O(batches) listing/footer costs —
            # driver-side listing when below threshold, O(bucket)
            # rewrite when hit. TTL mode passes the live window as
            # retain: expired rows drop during the rewrite (space
            # reclamation only; reads filter the window regardless of
            # when compaction last ran)
            ncomp = _compact_ledger_buckets(
                sp, hroot, "pb", ["hh"], retain=live
            ) + _compact_ledger_buckets(
                sp, broot, "pbb", ["band", "h"], retain=live
            )
            # flags from the filesystem (no Spark job): an all-short-docs
            # batch can append zero bucket rows, and a zero-file root
            # must not be read next batch
            state["has_h"] = any(pathlib.Path(hroot).rglob("*.parquet"))
            state["has_b"] = any(pathlib.Path(broot).rglob("*.parquet"))
            if _DC_READ_PROBE is not None:
                _DC_READ_PROBE.append(
                    {
                        "batch": k,
                        "arrived": arrived,
                        "h_ledger": _probe_h[0],
                        "h_scanned": _probe_h[1],
                        "b_ledger": _probe_b[0],
                        "b_scanned": _probe_b[1],
                        # post-append, post-compaction file bounds
                        "h_files_max": _ledger_files_max(hroot),
                        "b_files_max": _ledger_files_max(broot),
                        "compacted": ncomp,
                    }
                )

        return commit

    # executeTake escalation kill (guide §1/§7: many tiny sequential
    # jobs): the capped key collects (`distinct().limit(cap+1).collect()`)
    # and `.first()` otherwise run 1-partition-then-escalate job chains —
    # 2-3 driver-latency-bound jobs per action. Scanning all partitions
    # of these SMALL post-AQE relations in ONE job is strictly cheaper
    # here; restored after the run.
    _run_stream(
        _slice_stream(spark, "doc_id long, text string", path),
        _epoch_sink(base, [hroot, broot], cascade),
        shards=parts,
        confs={"spark.sql.limit.initialNumPartitions": "1024"},
    )
    return _tiny_df(
        spark,
        funnel,
        "batch_id int, arrived long, exact_dups long, near_dups long,"
        " survivors long",
    ).orderBy("batch_id")


@register("stream_dedup_cascade", sql=_dc_oracle_sql)
def stream_dedup_cascade(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of the batch dedup cascade (VERDICT r9 task 8 —
    the north star's ingestion loop): documents arrive as micro-batches
    and each batch dedupes INCREMENTALLY against persistent state
    stores, never re-scanning the accumulated corpus —
      stage 1 (exact):   first arrival per md5 content hash wins; later
                         arrivals drop (in-batch rank + seen-flag join
                         against the hash ledger);
      stage 2 (near):    a doc drops if ANY of its 6 portable-MinHash
                         band buckets (the dedup_near_minhash family)
                         is already owned by an earlier EXACT-survivor
                         — in-batch bucket self-join + semi-join
                         against the bucket ledger;
      output:            the per-batch funnel (arrived / exact_dups /
                         near_dups / survivors), the observability row
                         a production ingest emits per batch.

    State architecture (VERDICT r10 task 1 — closes the read-side
    O(corpus) weak): each ledger is ONE append-only parquet root,
    hash-prefix partitioned — the hash store by pb = pmod(hh, B), the
    bucket store by pbb = pmod(h, B), B sized to the corpus from footer
    metadata (:func:`_dc_buckets`). Every batch
      * WRITES only its new rows, appended into the partitions they
        hash to (O(batch) write — the late-r10 fix, now per-partition);
      * READS only the partitions the batch actually touches: the
        batch's distinct pb/pbb values (a bounded collect, ≤ B ≤ 4096
        ints) become a partition-pruning filter, so the scan lists
        and reads touched buckets only — min(batch, B)/B of the ledger
        instead of all of it. At 100 TB with B at the cap this is a
        storage-partitioned equi-join on (pb, hh) / (pbb, band, h);
        tools/cascade_scale.py measures scanned-rows tracking the batch
        while the ledger grows (SCALE.md);
      * FILTERS the pruned read by the batch's own hash values (r12,
        a Trino-style dynamic IN filter, capped — _DC_DYNFILTER_CAP):
        within a touched bucket only rows that can possibly equi-join
        survive the scan, and because appends and compactions write
        bucket files SORTED by the join key, parquet row-group stats
        can skip inside buckets once row groups are production-sized;
      * COMPACTS any bucket exceeding _DC_COMPACT_FILES files into ONE
        sorted file (r12 — threshold-triggered, per-bucket, inside the
        serialized foreachBatch), so pruned reads never pay O(batches)
        file listing/footer costs: the LSM write-amp/read-files trade,
        with tools/cascade_scale.py showing files/bucket bounded while
        scanned rows stay flat.
    The funnel is computed in ONE aggregate per batch (VERDICT r10 task
    5 — previously 4 count actions + an extra checkpoint): arrived /
    exact / near fall out of a single labeled join, survivors by
    difference.

    FULLY VALUE-ORACLED: the replay fixture arrives in doc_id order
    with deterministic slice boundaries (micro-batch k = contiguous
    chunk k), so "arrived earlier" ≡ "smaller doc_id" and the whole
    cascade — batch assignment, exact ranks, band buckets, funnel —
    replays in pure SQL under the portable md5 hash family.

    Batch body: :func:`_run_dedup_cascade` (shared with the TTL variant
    — VERDICT r12 task 7); epoch commit: :func:`_epoch_sink`."""
    return _run_dedup_cascade(spark, sf, "dedup_cascade_state", ttl=None)


# --------------------------------------------------------------------------
# Streaming ANN ingestion: centroid-assignment-on-arrival (no re-cluster)
# --------------------------------------------------------------------------

_AI_FILES = 4  # embedding replay slices = micro-batches


def _emb_replay_dir(spark: SparkSession, sf: str) -> str:
    """Materialize embeddings as _AI_FILES sequential parquet slices in
    vec_id order — the _doc_replay_dir contract applied to the vector
    table, so micro-batch k is EXACTLY contiguous vec_id chunk k and
    the whole ingest unrolls in SQL."""

    def build(tmp: str) -> None:
        rows = (
            T(spark, sf, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
            .orderBy("vec_id")
            .collect()  # replay-fixture builder (test harness), not an operator
        )
        _write_slices(
            tmp,
            [(r["vec_id"], list(r["embedding"])) for r in rows],
            ["vec_id", "embedding"],
            {"vec_id": "int64"},
            _AI_FILES,
        )

    path = artifact_path("stream_emb_replay", sf, ("embeddings",), f"f{_AI_FILES}")
    return artifact(path, build)


#: the ingest replayed in pure SQL — the CTE prefix every ANN ingest /
#: maintenance oracle shares: batch = contiguous vec_id chunk (the
#: fixture's slicing rule), assignment (``a``, rn = 1) = argmin
#: micro-rounded euclidean distance to the PINNED k-means centroids
#: ({means} — the so_kmeans artifact both engines share), ties to the
#: lower cluster id.
_AI_ASSIGN_CTES = """
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, e,
             CAST(r // CAST(CEIL(n / {files}.0) AS BIGINT) AS INT) AS batch_id
      FROM base
    ),
    m AS (SELECT cluster, mean FROM read_parquet('{means}/*.parquet')),
    d AS (
      SELECT b.batch_id, b.vec_id, m.cluster,
             CAST(FLOOR(SQRT(list_reduce(list_transform(generate_series(1, 64),
                  i -> (b.e[i] - m.mean[i]) * (b.e[i] - m.mean[i])),
                  (x, y) -> x + y)) * 1e6 + 0.5) AS BIGINT) AS du
      FROM b CROSS JOIN m
    ),
    a AS (
      SELECT batch_id, vec_id, cluster, du,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn
      FROM d
    )"""

#: + the per-(batch, cell) ingest ``funnel``; the drift CTEs add its
#: baseline (batch 0, ``base0``) and recent (last batch, ``rec``) rows
_AI_FUNNEL_CTES = _AI_ASSIGN_CTES + """,
    funnel AS (
      SELECT batch_id, cluster AS cell, COUNT(*) AS n, SUM(du) AS sdu
      FROM a WHERE rn = 1 GROUP BY 1, 2
    )"""
_AI_DRIFT_CTES = _AI_FUNNEL_CTES + """,
    base0 AS (SELECT cell, n, sdu FROM funnel WHERE batch_id = 0),
    rec AS (
      SELECT cell, n, sdu FROM funnel
      WHERE batch_id = (SELECT MAX(batch_id) FROM funnel)
    )"""

_AI_SQL = _AI_ASSIGN_CTES + """
    SELECT batch_id, cluster AS cell,
           COUNT(*) AS n_assigned,
           ROUND(SUM(du) / COUNT(*) / 1e6 * 1e6) / 1e6 AS avg_dist
    FROM a WHERE rn = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


def _ai_oracle_sql() -> str:
    from engine.kmeans import _means_path

    return _AI_SQL.format(files=_AI_FILES, means=_means_path(oracle_sf()))


def _argmin_cell_sql(means: list[list[float]]) -> str:
    """Nearest-centroid assignment as ONE prebuilt per-row SQL
    expression (VERDICT r11 finding 1 — replaces crossJoin(centroids) +
    row_number window, which shuffled batch×K expanded rows per batch):
    the frozen centroid matrix rides inline as literal arrays (repr()
    round-trips every double exactly, and cast('…' as double) parses it
    back bit-identically), all K distances evaluate inside a single
    projection, and array_min over (du, cell) structs is the argmin
    with the cluster-id tie-break — zero shuffle, zero join. du is the
    micro-rounded euclidean distance (FLOOR(d·1e6 + 0.5), the
    _ivf_probe rounding contract). Built once per operator start, never
    inside foreachBatch (the r11 plan-construction lesson)."""
    arrs = ", ".join(
        "array(" + ", ".join(f"cast('{v!r}' as double)" for v in m) + ")"
        for m in means
    )
    return (
        f"array_min(zip_with(array({arrs}), sequence(0, {len(means) - 1}),"
        " (m, k) -> struct(cast(floor(sqrt(aggregate(zip_with(embedding, m,"
        " (p, q) -> (p - q) * (p - q)), 0D, (a, v) -> a + v)) * 1e6 + 0.5d)"
        " as bigint) as du, cast(k as int) as cell)))"
    )


def _ann_assign(df: DataFrame, argmin_sql: str) -> DataFrame:
    """(vec_id, embedding, cell, du): each row of ``df`` assigned to its
    nearest centroid by the prebuilt :func:`_argmin_cell_sql`
    expression — a per-row projection, no Exchange (plan-gated)."""
    return df.select(
        "vec_id", "embedding", F.expr(argmin_sql).alias("b")
    ).select(
        "vec_id",
        "embedding",
        F.col("b.cell").alias("cell"),
        F.col("b.du").alias("du"),
    )


def _run_ann_ingest(
    spark: SparkSession, sf: str, state_name: str, ttl: int | None
) -> DataFrame:
    """The ONE batch body behind stream_ann_ingest (ttl=None) and
    stream_ann_ingest_ttl (ttl=_AI_TTL): assign each arriving batch to
    the frozen centroids, append it into the cell-partitioned store
    under ``scratch_dir(<state_name>/<sf tag>)`` and record the
    per-cell funnel; the store commits through :func:`_epoch_sink`.
    The TTL mode differs in three places only: appends stamp the
    arrival ``batch_id``, the funnel gains the post-append
    ``live_rows`` read, and compaction applies the live window as
    ``retain``. Semantics per mode are documented on the registered
    wrappers."""
    import shutil

    from engine.kmeans import materialize_means
    from engine.session import tune

    tune(spark)
    _means_path_, means = materialize_means(spark, sf)
    # the argmin expression is prebuilt ONCE from the frozen centroids —
    # never inside foreachBatch (the r11 plan-construction lesson)
    argmin_sql = _argmin_cell_sql(means)
    path = _emb_replay_dir(spark, sf)
    store = scratch_dir(f"{state_name}/{sf_tag(sf)}")
    shutil.rmtree(store, ignore_errors=True)  # fresh index per run
    # funnel rows: (batch, cell, n_assigned, sdu | None[, live_rows])
    funnel: list[tuple] = []

    def ingest(batch_df: DataFrame, epoch_id: int, k: int, submit: Callable):
        sp = batch_df.sparkSession
        # consumed twice: funnel agg + store append
        assigned = _ann_assign(batch_df, argmin_sql).localCheckpoint()
        rows = assigned.select("cell", "vec_id", "embedding")
        live = None
        if ttl is not None:
            # batch_id is a data column (the retention key), epoch the
            # idempotency subdir
            rows = rows.withColumn("batch_id", F.lit(k))
            live = F.col("batch_id") >= F.lit(k - ttl)
        f_arr = submit(
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("du").alias("sdu"))
            .collect  # ≤ k-cells rows — observability-sized
        )
        # one partitioned write per batch, never a rewrite of the
        # existing cells
        f_append = submit(
            rows.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("append")
            .partitionBy("cell", "epoch")
            .parquet,
            store,
        )
        arr = {r["cell"]: (r["n"], r["sdu"]) for r in f_arr.result()}
        if ttl is None:
            batch_rows = [(k, c, n, sdu) for c, (n, sdu) in arr.items()]
        else:
            # the live read stays strictly AFTER the append: the window
            # [k-TTL, k] includes this batch's own arrivals. Explicit
            # schema (guide §6): skips the per-batch footer-inference
            # job; column pruning drops the vectors from the count
            f_append.result()
            lv = (
                sp.read.schema(
                    "vec_id long, embedding array<double>, batch_id int,"
                    " cell int, epoch int"
                )
                .parquet(store)
                .filter(live)
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("lv"))
                .collect()  # ≤ k-cells rows
            )
            batch_rows = [
                (k, r["cell"], *arr.get(r["cell"], (0, None)), r["lv"])
                for r in sorted(lv, key=lambda r: r["cell"])
            ]

        def commit() -> None:
            funnel.extend(batch_rows)
            # same LSM bound as the cascade ledgers (r12): a cell dir
            # gains one file per touching batch, so trickle ingest needs
            # the threshold compaction too — one dynamic-overwrite job
            # for all due cells, sorted by vec_id for point-lookup
            # row-group stats. TTL mode: expired vectors drop during the
            # rewrite; fully-expired cells delete
            _compact_ledger_buckets(sp, store, "cell", ["vec_id"], retain=live)

        return commit

    _run_stream(
        _slice_stream(spark, "vec_id long, embedding array<double>", path),
        _epoch_sink(store, [store], ingest),
        shards=8,
    )
    schema = "batch_id int, cell int, n_assigned long, sdu long"
    live_col = []
    if ttl is not None:
        schema += ", live_rows long"
        live_col = ["live_rows"]
    out = _tiny_df(spark, funnel, schema)
    return out.select(
        "batch_id",
        "cell",
        "n_assigned",
        dround(F.col("sdu") / F.col("n_assigned") / 1e6, 6).alias("avg_dist"),
        *live_col,
    ).orderBy("batch_id", "cell")


@register("stream_ann_ingest", sql=_ai_oracle_sql)
def stream_ann_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ANN index ingestion (VERDICT r10 task 8 — the
    ingestion story for the vector side, the cousin of
    stream_dedup_cascade's dedup ledger): embeddings arrive as
    micro-batches and each batch is ASSIGNED ON ARRIVAL to its nearest
    frozen IVF centroid (the so_kmeans artifact — the coarse quantizer
    is NOT re-fit per batch, exactly how a production IVF index absorbs
    inserts between periodic re-trainings), then APPENDED into the
    cell-partitioned vector layout that sim_cosine_topk_ivf_pq queries.
    Output is the per-batch observability relation: (batch_id, cell,
    n_assigned, avg_dist) — arrival volume per cell plus mean distance
    to the owning centroid, the drift signal that tells the operator
    when the coarse quantizer needs re-training.

    Assignment is argmin over the micro-rounded euclidean distance
    (FLOOR(d·1e6 + 0.5) — the _ivf_probe rounding contract) with
    cluster-id tie-breaks, so it is bit-reproducible in SQL; avg_dist
    divides the EXACT integer micro-unit sum once per group. At 100 TB
    the append is one partitioned write per batch (no shuffle of the
    existing index, no re-cluster). The argmin is a PER-ROW expression
    fold over the frozen centroid matrix, prebuilt ONCE as a SQL string
    before the stream starts (_argmin_cell_sql — VERDICT r11 finding 1
    replaced the crossJoin×K + row_number window, which shuffled
    batch×K expanded rows every batch): the per-batch plan now has NO
    exchange before the funnel aggregate (plan-gated in tests). For a
    coarse quantizer too large to inline (K beyond ~10^4 cells) the
    fallback is groupBy(vec_id).agg(min_by(...)) — partial-aggregable,
    one exchange — not the window rank.

    FULLY VALUE-ORACLED: replay slices arrive in vec_id order with
    deterministic chunk boundaries (the _doc_replay_dir contract), the
    centroids are the pinned artifact, and the funnel unrolls in pure
    SQL (_AI_SQL)."""
    return _run_ann_ingest(spark, sf, "ann_ingest_store", ttl=None)


#: live window of the TTL'd ANN ingest store, in batches — the vector
#: twin of _DC_TTL: a stored vector expires _AI_TTL batches after
#: arrival (retention-bounded index state, the 100 TB reality the TTL
#: cascade established for the dedup ledgers — VERDICT r12 task 4). 2
#: of the 4 contract batches makes expiry actually FIRE on the
#: contract fixtures (the last batch's live window excludes batch 0),
#: so the knob is exercised, not decorative.
_AI_TTL = 2

#: the TTL'd ingest replayed in pure SQL: assignment funnel as _AI_SQL,
#: plus per batch k the LIVE per-cell store size = arrivals assigned to
#: the cell within [k−{ttl}, k] (every vector arrives exactly once, so
#: the live count is a pure window sum over the funnel). Cells with
#: live rows but no arrivals in batch k emit n_assigned=0 rows with a
#: NULL avg_dist.
_AIT_SQL = _AI_FUNNEL_CTES + """,
    ks AS (SELECT DISTINCT batch_id FROM b),
    live AS (
      SELECT k.batch_id, f.cell, CAST(SUM(f.n) AS BIGINT) AS live_rows
      FROM ks k JOIN funnel f
        ON f.batch_id <= k.batch_id AND f.batch_id >= k.batch_id - {ttl}
      GROUP BY 1, 2
    )
    SELECT l.batch_id, l.cell,
           COALESCE(f.n, 0) AS n_assigned,
           ROUND(f.sdu / f.n / 1e6 * 1e6) / 1e6 AS avg_dist,
           l.live_rows
    FROM live l LEFT JOIN funnel f
      ON f.batch_id = l.batch_id AND f.cell = l.cell
    ORDER BY 1, 2
"""


def _ait_oracle_sql() -> str:
    from engine.kmeans import _means_path

    # means path resolved from the oracle's SF (SPARK_GRAFT_ORACLE_SF,
    # the r9 scan-oracle convention) so 3-SF sims compare like against
    # like — the Spark side materializes the same-SF artifact first
    return _AIT_SQL.format(
        files=_AI_FILES, means=_means_path(oracle_sf()), ttl=_AI_TTL
    )


@register("stream_ann_ingest_ttl", sql=_ait_oracle_sql)
def stream_ann_ingest_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """:func:`stream_ann_ingest` with RETENTION-BOUNDED store state
    (r13 — VERDICT r12 task 4, the vector twin of
    :func:`stream_dedup_cascade_ttl`): a stored vector expires _AI_TTL
    batches after arrival, so the cell-partitioned vector store is
    bounded at O(window × arrival rate) instead of growing O(corpus)
    forever — the delete story every production streaming index needs
    (time-partitioned segment retention in Lucene/Milvus, TTL'd
    RocksDB state, Kafka log retention are all this same idea).

    Mechanics on top of the ingest loop:
      * appends stamp each vector with its arrival ``batch_id`` (a
        DATA column — epoch subdirs stay the idempotency unit);
      * COMPACTION IS RETENTION-APPLYING: the threshold rewrite drops
        expired rows and deletes fully-expired cell dirs (the TTL
        cascade's _compact_ledger_buckets retain path, reused) — pure
        space reclamation, since every read filters the live window
        regardless of when compaction last ran;
      * the funnel gains ``live_rows`` — the per-cell LIVE store size
        measured by READING THE STORE after the batch's append with
        the window filter on (batch_id row-group stats skip expired
        not-yet-compacted files; retention bounds what is listed) —
        observability that pins the retention semantics in the oracle:
        cells with live vectors but no arrivals this batch emit
        n_assigned=0 rows, and a cell's live count DROPS when its old
        batches expire (expiry provably fires on the contract
        fixtures: the last batch's window excludes batch 0).

    FULLY VALUE-ORACLED (_AIT_SQL): every vector arrives exactly once,
    so the live store size is a pure window sum over the assignment
    funnel — no recursion, same replay fixture and pinned centroids as
    the ingest."""
    return _run_ann_ingest(spark, sf, "ann_ingest_ttl_store", ttl=_AI_TTL)


# --------------------------------------------------------------------------
# ANN maintenance: the drift-gate consumer of the ingest funnel
# --------------------------------------------------------------------------

#: drift threshold for the re-train gate, as an exact integer ratio
#: (recent_avg > base_avg * _RG_NUM/_RG_DEN triggers): 5% mean-distance
#: growth over the ingest window. Compared by int64 cross-
#: multiplication of the micro-unit sums, so the decision is
#: bit-reproducible on both engines — no floating-point ratio ever
#: exists to disagree about.
_RG_NUM, _RG_DEN = 105, 100

#: the gate unrolled in SQL: the ingest funnel's (batch, cell) sums
#: (same CTEs as _AI_SQL), then baseline = batch 0 vs recent = last
#: batch per cell, full-outer so a cell seen in only one window still
#: gets a decision. {files}/{means} as _AI_SQL.
_RG_SQL = _AI_DRIFT_CTES + """
    SELECT COALESCE(b.cell, r.cell) AS cell,
           COALESCE(b.n, 0) AS base_n,
           COALESCE(r.n, 0) AS recent_n,
           ROUND(b.sdu / b.n / 1e6 * 1e6) / 1e6 AS base_avg,
           ROUND(r.sdu / r.n / 1e6 * 1e6) / 1e6 AS recent_avg,
           CASE WHEN COALESCE(r.n, 0) = 0 THEN false
                WHEN COALESCE(b.n, 0) = 0 THEN true
                ELSE r.sdu * b.n * {den} > b.sdu * r.n * {num} END AS retrain
    FROM base0 b FULL OUTER JOIN rec r ON b.cell = r.cell
    ORDER BY 1
"""


def _rg_oracle_sql() -> str:
    from engine.kmeans import _means_path

    return _RG_SQL.format(
        files=_AI_FILES, means=_means_path(oracle_sf()), num=_RG_NUM, den=_RG_DEN
    )


@register("pipeline_ann_retrain_gate", sql=_rg_oracle_sql)
def pipeline_ann_retrain_gate(spark: SparkSession, sf: str) -> DataFrame:
    """The consumer of stream_ann_ingest's drift funnel (VERDICT r11
    task 6 — completes ingest → monitor → MAINTAIN): per IVF cell,
    compare the mean assignment distance of the MOST RECENT ingest
    batch against the FIRST batch (the baseline the frozen coarse
    quantizer was accepted at) and emit the re-train decision relation
    — (cell, base_n, recent_n, base_avg, recent_avg, retrain). A cell
    re-trains when its recent mean distance exceeds baseline by the
    pinned ratio (_RG_NUM/_RG_DEN = +5%), when it receives traffic it
    never saw at baseline (base_n = 0 → the quantizer has no mandate
    there), and never on no recent evidence (recent_n = 0). The
    comparison cross-multiplies the EXACT integer micro-unit sums
    (r.sdu·b.n·100 > b.sdu·r.n·105 ⇔ recent_avg > base_avg·1.05), so
    the boundary cannot flip on FP noise — the same exactness contract
    as the funnel's avg_dist.

    The funnel is recomputed batch-side here (assignment =
    _argmin_cell_sql's zero-shuffle fold over the frozen centroids,
    grouped by the replay fixture's batch rule) because the replay is
    deterministic — it is row-identical to what stream_ann_ingest
    emits. In production the gate reads the PERSISTED funnel the
    ingest stream already emits (batch_id arrives on the row); the
    ROW_NUMBER-over-vec_id here is fixture-replay bookkeeping, not the
    operator's scale path — the gate aggregate itself touches
    (batches × cells) observability rows, never vectors."""
    from engine.session import tune

    tune(spark)
    _emb, funnel = _replay_funnel(spark, sf)
    return (
        _drift_decisions(funnel, _RG_NUM, _RG_DEN)
        .select(
            "cell",
            F.coalesce("bn", F.lit(0)).alias("base_n"),
            F.coalesce("rn", F.lit(0)).alias("recent_n"),
            dround(F.col("bsdu") / F.col("bn") / 1e6, 6).alias("base_avg"),
            dround(F.col("rsdu") / F.col("rn") / 1e6, 6).alias("recent_avg"),
            "retrain",
        )
        .orderBy("cell")
    )


def _replay_funnel(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame]:
    """(embeddings, funnel) for the ANN maintenance keys: the ingest
    replay's per-(batch, cell) assignment sums recomputed batch-side —
    deterministic fixture replay, row-identical to what
    stream_ann_ingest emits (and what production PERSISTS; the
    ROW_NUMBER-over-vec_id is fixture bookkeeping, not the scale
    path). Shared by the retrain gate and the retrain apply."""
    from pyspark.sql import Window

    from engine.kmeans import materialize_means

    _mp, means = materialize_means(spark, sf)
    argmin_sql = _argmin_cell_sql(means)
    emb = T(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # footer-metadata row count (no Spark job) — emb is a straight
    # projection of the table, so the counts are identical; the old
    # `.count()` was one full-scan job per maintenance key
    from engine.session import table_rows

    n = table_rows(sf, "embeddings")
    if n is None:
        n = emb.count()
    chunk = max(1, -(-n // _AI_FILES))
    r = F.row_number().over(Window.orderBy("vec_id")) - 1
    funnel = (
        emb.withColumn("batch_id", F.floor(r / chunk).cast("int"))
        .select("batch_id", F.expr(argmin_sql).alias("b"))
        .groupBy("batch_id", F.col("b.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("b.du").alias("sdu"))
        .localCheckpoint()  # batches×cells observability rows, read 3×
    )
    return emb, funnel


def _drift_decisions(funnel: DataFrame, num: int, den: int) -> DataFrame:
    """Per-cell drift decision over a (batch_id, cell, n, sdu) funnel:
    baseline = batch 0, recent = last batch, full-outer so a cell seen
    in only one window still decides. Returns (cell, bn, rn, bsdu,
    rsdu, retrain) with the exact cross-multiplied comparison —
    recent_avg > base_avg · num/den ⇔ rsdu·bn·den > bsdu·rn·num —
    widened to decimal(38,0) BEFORE multiplying (ADVICE r12): Spark
    LongType silently wraps on overflow (non-ANSI) while the DuckDB
    oracle promotes to HUGEINT — at production magnitudes (sdu ~1e13,
    n ~1e9) the long product overflows and the 'bit-reproducible'
    boundary could silently flip; decimal(38,0) matches DuckDB's
    widened arithmetic exactly."""
    last = funnel.agg(F.max("batch_id")).first()[0]
    base0 = funnel.filter(F.col("batch_id") == 0).select(
        "cell", F.col("n").alias("bn"), F.col("sdu").alias("bsdu")
    )
    rec = funnel.filter(F.col("batch_id") == last).select(
        "cell", F.col("n").alias("rn"), F.col("sdu").alias("rsdu")
    )
    return base0.join(rec, "cell", "full_outer").select(
        "cell",
        "bn",
        "rn",
        "bsdu",
        "rsdu",
        F.when(F.coalesce("rn", F.lit(0)) == 0, F.lit(False))
        .when(F.coalesce("bn", F.lit(0)) == 0, F.lit(True))
        .otherwise(
            F.col("rsdu").cast("decimal(38,0)")
            * F.col("bn").cast("decimal(38,0)")
            * den
            > F.col("bsdu").cast("decimal(38,0)")
            * F.col("rn").cast("decimal(38,0)")
            * num
        )
        .alias("retrain"),
    )


#: the reassignment step unrolled in SQL: decisions + integer re-fit
#: as _RAP_SQL, then EVERY vector re-assigned under the merged centroid
#: set (flagged → re-fit mean, unflagged → artifact mean). Shared CTE
#: prefix of the movement matrix (_RAS_SQL) and the reindex report
#: (_RIX_SQL); a2 rn2=1 is the per-vector (cell_from, cell_to) move.
#: Ties → lower cell id, the _argmin_cell_sql contract.
_RAS_PREFIX = _AI_DRIFT_CTES + """,
    decs AS (
      SELECT COALESCE(bb.cell, r.cell) AS cell,
             CASE WHEN COALESCE(r.n, 0) = 0 THEN false
                  WHEN COALESCE(bb.n, 0) = 0 THEN true
                  ELSE r.sdu * bb.n * {den} > bb.sdu * r.n * {num} END
               AS retrain
      FROM base0 bb FULL OUTER JOIN rec r ON bb.cell = r.cell
    ),
    fl AS (SELECT cell FROM decs WHERE retrain),
    dims AS (
      SELECT a.cluster AS cell, j.j,
             SUM(CAST(ROUND(b.e[j.j] * 1e9) AS BIGINT)) AS sm,
             COUNT(*) AS cnt
      FROM a JOIN b ON b.vec_id = a.vec_id
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS j) j
      WHERE a.rn = 1 AND a.cluster IN (SELECT cell FROM fl)
      GROUP BY 1, 2
    ),
    newm AS (SELECT cell, list(sm / (1e9 * cnt) ORDER BY j) AS nm
             FROM dims GROUP BY cell),
    m2 AS (
      SELECT m.cluster, COALESCE(nm.nm, m.mean) AS mean
      FROM m LEFT JOIN newm nm ON nm.cell = m.cluster
    ),
    d2 AS (
      SELECT a.vec_id, a.cluster AS cell_from, m2.cluster AS c2,
             CAST(FLOOR(SQRT(list_reduce(list_transform(generate_series(1, 64),
                  i -> (b.e[i] - m2.mean[i]) * (b.e[i] - m2.mean[i])),
                  (x, y) -> x + y)) * 1e6 + 0.5) AS BIGINT) AS du2
      FROM a JOIN b ON b.vec_id = a.vec_id CROSS JOIN m2
      WHERE a.rn = 1
    ),
    a2 AS (
      SELECT vec_id, cell_from, c2 AS cell_to,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY du2, c2) AS rn2
      FROM d2
    )
"""

_RAS_SQL = (
    _RAS_PREFIX
    + """
    SELECT cell_from, cell_to, COUNT(*) AS n,
           (cell_from != cell_to) AS moved
    FROM a2 WHERE rn2 = 1
    GROUP BY 1, 2 ORDER BY 1, 2
"""
)

#: the reindex REPORT unrolled in SQL: the movement relation folded to
#: the per-cell rewrite plan every K cell appears in — n_before from
#: the pre-move assignment, in/out from the movers, n_after the
#: conserved balance, rewritten ⇔ the cell's partition was touched.
_RIX_SQL = (
    _RAS_PREFIX
    + """
    , mv AS (SELECT vec_id, cell_from, cell_to FROM a2 WHERE rn2 = 1),
    bf AS (SELECT cell_from AS cell, COUNT(*) AS n FROM mv GROUP BY 1),
    mvd AS (SELECT * FROM mv WHERE cell_from != cell_to),
    ins AS (SELECT cell_to AS cell, COUNT(*) AS n FROM mvd GROUP BY 1),
    outs AS (SELECT cell_from AS cell, COUNT(*) AS n FROM mvd GROUP BY 1)
    SELECT m.cluster AS cell,
           COALESCE(bf.n, 0) AS n_before,
           COALESCE(ins.n, 0) AS n_in,
           COALESCE(outs.n, 0) AS n_out,
           COALESCE(bf.n, 0) - COALESCE(outs.n, 0) + COALESCE(ins.n, 0)
             AS n_after,
           (COALESCE(ins.n, 0) + COALESCE(outs.n, 0)) > 0 AS rewritten
    FROM m
    LEFT JOIN bf ON bf.cell = m.cluster
    LEFT JOIN ins ON ins.cell = m.cluster
    LEFT JOIN outs ON outs.cell = m.cluster
    ORDER BY 1
"""
)


def _ras_oracle_sql() -> str:
    from engine.kmeans import _means_path

    return _RAS_SQL.format(
        files=_AI_FILES,
        means=_means_path(oracle_sf()),
        num=_RA_NUM,
        den=_RA_DEN,
    )


def _merged_quantizer(spark: SparkSession, sf: str):
    """Shared core of the reassign and reindex steps: drift decisions
    at the apply threshold over the replay funnel, then the EXACT
    integer re-fit of every flagged cell (1e-9-unit int64 coordinate
    sums divided once — bit-reproducible on both engines). Returns
    (emb, means, merged, flagged): the vector relation, the artifact
    centroids, the merged centroid set (flagged → re-fit mean,
    unflagged → artifact mean), and the sorted flagged cell ids."""
    from engine.kmeans import materialize_means

    emb, funnel = _replay_funnel(spark, sf)
    decs = _drift_decisions(funnel, _RA_NUM, _RA_DEN).select(
        "cell", "retrain"
    )
    flagged = sorted(
        r["cell"] for r in decs.filter(F.col("retrain")).collect()
    )
    _mp, means = materialize_means(spark, sf)
    merged = [list(m) for m in means]
    if flagged:
        argmin_old = _argmin_cell_sql(means)
        sums = (
            emb.select(
                "embedding", F.expr(argmin_old)["cell"].alias("cell")
            )
            .filter(_sql_in("cell", flagged))
            .select("cell", F.posexplode("embedding").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(
                F.sum(F.expr("cast(round(v * 1e9) as bigint)")).alias("sm"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .collect()  # ≤ K×64 rows — the argmin-literal class
        )
        for r in sums:
            # sm/(1e9·cnt): the same IEEE division DuckDB performs on
            # the identical integer pair — bit-reproducible
            merged[r["cell"]][r["i"]] = r["sm"] / (1e9 * r["cnt"])
    return emb, means, merged, flagged


@register("pipeline_ann_reassign", sql=_ras_oracle_sql)
def pipeline_ann_reassign(spark: SparkSession, sf: str) -> DataFrame:
    """The CONVERGENCE step after the retrain apply (r13): re-assign
    every vector under the RETRAINED quantizer (flagged cells carry
    their re-fit centroids, unflagged keep the artifact's) and emit the
    movement matrix — (cell_from, cell_to, n, moved) — the relation a
    re-index job uses to plan which cell partitions to rewrite and the
    observability a maintenance dashboard charts (diagonal = stable
    mass, off-diagonal = churn). The drift A/B (SCALE.md r13) measured
    why this step exists: re-fit alone recovers part of the recall
    loss; re-assignment under the retrained centroids completes it
    (0.74 → 1.00 at sf0.1 on the drifted corpus).

    Plan shape: decisions + re-fit reuse the apply's exact-integer
    arithmetic (the re-fit means collect as K×64 doubles — the argmin-
    literal class — and re-enter the plan as a prebuilt zero-shuffle
    expression); re-assignment is ONE narrow pass over the vectors (no
    join, no shuffle before the cells²-bounded movement aggregate). At
    100 TB the pass is the unavoidable cost of re-assignment and
    parallelizes embarrassingly; nothing driver-sized grows with the
    data.

    FULLY VALUE-ORACLED (_RAS_SQL): the re-fit is exact-integer and the
    merged centroid set therefore bit-reproducible, so the whole
    reassignment unrolls in flat SQL; ties break to the lower cell id
    on both engines."""
    from engine.session import tune

    tune(spark)
    emb, means, merged, _flagged = _merged_quantizer(spark, sf)
    argmin_new = _argmin_cell_sql(merged)
    argmin_old = _argmin_cell_sql(means)
    return (
        emb.select(
            F.expr(argmin_old)["cell"].alias("cell_from"),
            F.expr(argmin_new)["cell"].alias("cell_to"),
        )
        .groupBy("cell_from", "cell_to")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "cell_from",
            "cell_to",
            "n",
            (F.col("cell_from") != F.col("cell_to")).alias("moved"),
        )
        .orderBy("cell_from", "cell_to")
    )


def _rix_oracle_sql() -> str:
    from engine.kmeans import _means_path

    return _RIX_SQL.format(
        files=_AI_FILES,
        means=_means_path(oracle_sf()),
        num=_RA_NUM,
        den=_RA_DEN,
    )


@register("pipeline_ann_reindex", sql=_rix_oracle_sql)
def pipeline_ann_reindex(spark: SparkSession, sf: str) -> DataFrame:
    """The PHYSICAL half of the convergence step (late r13):
    pipeline_ann_reassign computes the movement matrix; this operator
    EXECUTES it — the IVF-PQ artifact advances to generation g2 in
    which every vector lives in the cell partition the RETRAINED
    quantizer assigns it to:
      * movers' old code rows drop from their cell_from partition and
        re-enter cell_to re-encoded (residual vs cell_to's carried
        mean, FROZEN codebook — engine.similarity.reindex_cells);
      * only DIRTY cells (movement in or out) are rewritten; every
        untouched cell's files carry over byte-identical (pinned by
        test) — at 100 TB a metadata-only manifest swap;
      * cmeans and codebook carry FROZEN from g1: the reindex moves
        rows, the NEXT retrain cycle refreshes statistics — standard
        incremental index maintenance, one concern per step;
      * the generation publishes atomically (temp root + rename), so
        a reader sees the old or the new complete artifact, never a
        mix.

    Report: (cell, n_before, n_in, n_out, n_after, rewritten) — the
    rewrite plan and its balance. n_before and n_after are READ BACK
    from the published g1/g2 code partitions (count of code rows per
    cell ÷ the S subspaces; at 100 TB these come from manifest
    row-count stats, no data read), so the oracle compare pins what
    was PERSISTED against the pure-SQL recomputation — a reindex that
    lost or invented a row hash-mismatches.

    Plan shape: ONE narrow literal-folded double-argmin pass finds the
    movers (no join/shuffle); the mover relation is churn-bounded and
    broadcast into the dirty-cell anti-join, whose read is partition-
    pruned to the dirty cells; the report aggregates are cells²-
    bounded. Nothing driver-sized grows with the corpus — the flagged/
    dirty cell lists are ≤ K (the argmin-literal class).

    FULLY VALUE-ORACLED (_RIX_SQL): the movement relation unrolls in
    flat SQL (the _RAS_PREFIX chain) and the report is its per-cell
    fold over the full K-cell spine."""
    from engine.session import tune
    from engine.similarity import _PQ_S, reindex_cells

    tune(spark)
    emb, means, merged, flagged = _merged_quantizer(spark, sf)
    argmin_new = _argmin_cell_sql(merged)
    argmin_old = _argmin_cell_sql(means)
    moved = (
        emb.select(
            "vec_id",
            F.expr(argmin_old)["cell"].alias("cell_from"),
            F.expr(argmin_new)["cell"].alias("cell_to"),
        )
        .filter(F.col("cell_from") != F.col("cell_to"))
        .localCheckpoint()  # churn-bounded; consumed by the rewrite + report
    )
    src_root, dst_root = reindex_cells(spark, sf, moved, flagged)

    def _cell_counts(root: str, name: str) -> DataFrame:
        return (
            spark.read.parquet(root + "/codes")
            .groupBy("cell")
            .agg(F.expr(f"count(1) div {_PQ_S}").alias(name))
        )

    spine = _tiny_df(spark, [(c,) for c in range(len(means))], "cell int")
    ins = moved.groupBy(F.col("cell_to").alias("cell")).agg(
        F.count(F.lit(1)).alias("ins")
    )
    outs = moved.groupBy(F.col("cell_from").alias("cell")).agg(
        F.count(F.lit(1)).alias("outs")
    )
    z = F.lit(0).cast("long")
    return (
        spine.join(_cell_counts(src_root, "bf"), "cell", "left")
        .join(ins, "cell", "left")
        .join(outs, "cell", "left")
        .join(_cell_counts(dst_root, "af"), "cell", "left")
        .select(
            "cell",
            F.coalesce("bf", z).alias("n_before"),
            F.coalesce("ins", z).alias("n_in"),
            F.coalesce("outs", z).alias("n_out"),
            F.coalesce("af", z).alias("n_after"),
            (F.coalesce("ins", z) + F.coalesce("outs", z) > 0).alias(
                "rewritten"
            ),
        )
        .orderBy("cell")
    )


#: maintenance threshold of the retrain APPLY step, as an exact integer
#: ratio — DISTINCT from the gate's +5% alert threshold (_RG_NUM/
#: _RG_DEN): the apply refreshes any cell whose recent mean distance
#: exceeds baseline AT ALL (num/den = 1), the eager-maintenance policy
#: a periodic re-fit job runs under. Deliberately tighter so the refit
#: arithmetic is exercised on the stationary contract fixtures (the
#: +5% gate never fires there — noise-level drift only), while
#: sf0.01/sf0.1 each keep at least one un-flagged cell so the
#: "untouched cells stay byte-identical" contract is exercised too.
_RA_NUM, _RA_DEN = 100, 100

#: the apply unrolled in SQL: decisions as _RG_SQL (at the apply's
#: threshold), per-cell lifetime stats from the funnel, flagged cells
#: re-fit as EXACT 1e-9-unit integer means of their currently-assigned
#: vectors (one seeded Lloyd step — order-free on both engines), and
#: the post-retrain mean distance recomputed against the re-fit
#: centroid with the same micro-rounding.
_RAP_SQL = _AI_DRIFT_CTES + """,
    decs AS (
      SELECT COALESCE(bb.cell, r.cell) AS cell,
             CASE WHEN COALESCE(r.n, 0) = 0 THEN false
                  WHEN COALESCE(bb.n, 0) = 0 THEN true
                  ELSE r.sdu * bb.n * {den} > bb.sdu * r.n * {num} END
               AS retrain
      FROM base0 bb FULL OUTER JOIN rec r ON bb.cell = r.cell
    ),
    cellstats AS (
      SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vec,
             CAST(SUM(sdu) AS BIGINT) AS old_sdu
      FROM funnel GROUP BY 1
    ),
    fl AS (SELECT cell FROM decs WHERE retrain),
    dims AS (
      SELECT a.cluster AS cell, j.j,
             SUM(CAST(ROUND(b.e[j.j] * 1e9) AS BIGINT)) AS sm,
             COUNT(*) AS cnt
      FROM a JOIN b ON b.vec_id = a.vec_id
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS j) j
      WHERE a.rn = 1 AND a.cluster IN (SELECT cell FROM fl)
      GROUP BY 1, 2
    ),
    newm AS (SELECT cell, list(sm / (1e9 * cnt) ORDER BY j) AS nm
             FROM dims GROUP BY cell),
    newd AS (
      SELECT a.cluster AS cell,
             SUM(CAST(FLOOR(SQRT(list_reduce(list_transform(
                  generate_series(1, 64),
                  i -> (b.e[i] - nm.nm[i]) * (b.e[i] - nm.nm[i])),
                  (x, y) -> x + y)) * 1e6 + 0.5) AS BIGINT)) AS new_sdu
      FROM a JOIN b ON b.vec_id = a.vec_id
      JOIN newm nm ON nm.cell = a.cluster
      WHERE a.rn = 1
      GROUP BY 1
    )
    SELECT c.cell,
           COALESCE(dd.retrain, false) AS retrained,
           c.n_vec,
           ROUND(c.old_sdu / c.n_vec / 1e6 * 1e6) / 1e6 AS old_avg,
           ROUND(COALESCE(nd.new_sdu, c.old_sdu) / c.n_vec / 1e6 * 1e6) / 1e6
             AS new_avg
    FROM cellstats c
    LEFT JOIN decs dd ON dd.cell = c.cell
    LEFT JOIN newd nd ON nd.cell = c.cell
    ORDER BY 1
"""


def _rap_oracle_sql() -> str:
    from engine.kmeans import _means_path

    return _RAP_SQL.format(
        files=_AI_FILES,
        means=_means_path(oracle_sf()),
        num=_RA_NUM,
        den=_RA_DEN,
    )


def _retrained_means_path(sf: str) -> str:
    """The retrained coarse-quantizer generation — the atomic swap
    point future ingest assignment reads from."""
    return artifact_path("ann_retrain", sf, ("embeddings",), "means")


@register("pipeline_ann_retrain_apply", sql=_rap_oracle_sql)
def pipeline_ann_retrain_apply(spark: SparkSession, sf: str) -> DataFrame:
    """The ACT step that completes ingest → monitor → MAINTAIN (r13 —
    VERDICT r12 task 1): consume the drift-decision relation (the
    retrain gate's logic at the apply's eager maintenance threshold,
    _RA_NUM/_RA_DEN) and RE-FIT the flagged cells —
      1. decisions: per-cell recent-vs-baseline comparison over the
         persisted ingest funnel (observability rows, never vectors);
      2. re-fit: each flagged cell's centroid moves to the EXACT
         integer mean of the cell's currently-assigned vectors (one
         seeded Lloyd step, the so_kmeans averageVectors protocol made
         order-free: 1e-9-unit int64 coordinate sums, divided once) —
         ONLY flagged cells' vectors are touched;
      3. publish: the full retrained centroid relation (flagged
         replaced, unflagged carried) writes atomically via temp dir +
         rename (_retrained_means_path — the swap point future ingest
         assignment reads), and the IVF-PQ codes artifact advances a
         generation in which ONLY flagged cells' cmeans/codes are
         rewritten against the FROZEN codebook while unflagged cell
         files carry over byte-identical
         (engine.similarity.reencode_cells);
      4. report: (cell, retrained, n_vec, old_avg, new_avg) — the
         lifetime mean assignment distance before vs after the re-fit
         (new_avg = old_avg where no re-fit ran), new_avg recomputed
         against the centroids READ BACK from the published artifact
         so the oracle pins what was persisted, not what was intended.

    FULLY VALUE-ORACLED (_RAP_SQL): decisions, integer re-fit, and the
    micro-rounded post-retrain distances all unroll in flat SQL over
    the replay fixture and the pinned means artifact."""
    from engine.session import tune

    tune(spark)
    emb, funnel = _replay_funnel(spark, sf)
    decs = _drift_decisions(funnel, _RA_NUM, _RA_DEN).select(
        "cell", "retrain"
    )
    flagged = sorted(
        r["cell"] for r in decs.filter(F.col("retrain")).collect()
    )  # ≤ K cells — driver-sized, the argmin-literal class
    cellstats = funnel.groupBy("cell").agg(
        F.sum("n").alias("n_vec"), F.sum("sdu").alias("old_sdu")
    )
    if flagged:
        from engine.kmeans import materialize_means
        from engine.similarity import reencode_cells

        _mp, means = materialize_means(spark, sf)
        argmin_sql = _argmin_cell_sql(means)
        # ONE pass over the vectors: assign (zero-shuffle fold), keep
        # only flagged cells' rows; consumed twice (re-fit sums +
        # post-retrain distances). In production this is a
        # partition-pruned read of the ingest store's flagged cells.
        from engine.session import parallelize_scan, scan_units

        # conditional fan-out (r14): the single-row-group local scan
        # pinned the K-distance argmin — and the re-fit explode +
        # distance aggregates downstream — to ONE task (guide §2.5), so
        # the BARE scan is spread and the argmin runs after the
        # repartition. The flagged-cell filter sits after the
        # checkpoint: above it, Catalyst pushes the filter (and so the
        # argmin) below the repartition, back into the scan task.
        # No-op at cluster scale. Downstream consumers are exact integer
        # sums, so partitioning cannot move a coordinate.
        asgf = (
            parallelize_scan(emb, scan_units(sf, "embeddings"))
            .select(
                "vec_id",
                "embedding",
                F.expr(argmin_sql)["cell"].alias("cell"),
            )
            .localCheckpoint()
            .filter(_sql_in("cell", flagged))
        )
        sums = asgf.select(
            "cell", F.posexplode("embedding").alias("i", "v")
        ).groupBy("cell", "i").agg(
            F.sum(F.expr("cast(round(v * 1e9) as bigint)")).alias("sm"),
            F.count(F.lit(1)).alias("cnt"),
        )
        newm = sums.groupBy("cell").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "i",
                            (
                                F.col("sm") / (F.lit(1e9) * F.col("cnt"))
                            ).alias("m"),
                        )
                    )
                ),
                lambda s: s["m"],
            ).alias("nm")
        )
        # PHYSICAL ACT 1 — the retrained coarse quantizer, published
        # as an artifact whose ident is the flagged cell list: flagged
        # centroids replaced, unflagged carried over
        old_m = _tiny_df(
            spark,
            [(i, list(mm)) for i, mm in enumerate(means)],
            "cell int, mean array<double>",
        )
        merged = old_m.join(newm, "cell", "left").select(
            "cell", F.coalesce("nm", "mean").alias("mean")
        )
        mpath = _retrained_means_path(sf)

        # PHYSICAL ACT 1 (quantizer publish) and ACT 2 (codes
        # generation rewrite) are independent — the reencode reads only
        # the codes artifact + flagged cells, never mpath — so they run
        # overlapped (guide §2.6).
        def _publish_means() -> None:
            artifact(
                mpath,
                lambda tmp: merged.coalesce(1).write.mode("overwrite").parquet(tmp),
                json.dumps(flagged),
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_means = pool.submit(_publish_means)
            # next IVF-PQ artifact generation: only the flagged cells'
            # cmeans/codes rewritten, frozen codebook, unflagged cell
            # files byte-identical (pinned by test)
            f_codes = pool.submit(reencode_cells, spark, sf, flagged)
            f_means.result()
            f_codes.result()
        # post-retrain distances against the centroids READ BACK from
        # the published artifact (what downstream actually consumes)
        nm_back = (
            spark.read.parquet(mpath)
            .filter(_sql_in("cell", flagged))
            .select("cell", F.col("mean").alias("nm"))
        )
        newd = (
            asgf.join(F.broadcast(nm_back), "cell")
            .select(
                "cell",
                F.expr(
                    "cast(floor(sqrt(aggregate(zip_with(embedding, nm,"
                    " (p, q) -> (p - q) * (p - q)), 0D, (a, v) -> a + v))"
                    " * 1e6 + 0.5d) as bigint)"
                ).alias("du2"),
            )
            .groupBy("cell")
            .agg(F.sum("du2").alias("new_sdu"))
        )
    else:
        newd = _tiny_df(spark, [], "cell int, new_sdu long")
    return (
        cellstats.join(decs, "cell", "left")
        .join(newd, "cell", "left")
        .select(
            "cell",
            F.coalesce("retrain", F.lit(False)).alias("retrained"),
            "n_vec",
            dround(F.col("old_sdu") / F.col("n_vec") / 1e6, 6).alias(
                "old_avg"
            ),
            dround(
                F.coalesce("new_sdu", "old_sdu") / F.col("n_vec") / 1e6, 6
            ).alias("new_avg"),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# TTL'd streaming dedup: retention-bounded state (the 100 TB reality)
# --------------------------------------------------------------------------

#: live window of the TTL cascade, in batches: an arrival is a
#: duplicate only if the same content (or band bucket) was seen within
#: the last _DC_TTL batches; older sightings have EXPIRED and the doc
#: is re-admitted. 2 (of the 4 contract batches) makes expiry actually
#: fire on the contract fixtures (gap-3 band collisions exist at every
#: SF), so the knob is exercised, not decorative.
_DC_TTL = 2

#: the TTL cascade replayed in pure SQL. Every ARRIVAL refreshes the
#: hash's last-seen time (last-seen semantics — the only formulation
#: that stays recursion-free: dup status depends on prior ARRIVALS, not
#: prior survivors), so exact-dup(d) ⇔ ∃ earlier arrival of the same
#: hash within {ttl} batches; band claims come from exact-SURVIVORS
#: (every survivor claims, near-dups included — the unbounded cascade's
#: rule) and expire on the same window.
_DCT_SQL = """
    WITH d AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    db AS (
      SELECT doc_id, text,
             CAST(r // CAST(CEIL(n / {files}.0) AS BIGINT) AS INT) AS batch_id
      FROM d
    ),
    h AS (
      SELECT doc_id, batch_id, text,
             ('0x' || SUBSTR(MD5(COALESCE(text, '')), 1, 15))::BIGINT AS hh
      FROM db
    ),
    exd AS (
      SELECT DISTINCT a.doc_id
      FROM h a JOIN h b
        ON b.hh = a.hh AND b.doc_id < a.doc_id
       AND b.batch_id >= a.batch_id - {ttl}
    ),
    toks AS (
      SELECT h.doc_id, STRING_SPLIT(h.text, ' ') AS t
      FROM h LEFT JOIN exd ON exd.doc_id = h.doc_id
      WHERE exd.doc_id IS NULL
    ),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    ds AS (SELECT doc_id,
                  UNNEST(LIST_TRANSFORM(sh,
                    s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT
                         % {p})) AS x
           FROM shing WHERE LEN(sh) > 0),
    sig AS (
      SELECT doc_id, band,
             MIN(((2 * band + 1) * x + 12345 * band) % {p}) AS h
      FROM ds CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band)
      GROUP BY doc_id, band
    ),
    nd AS (
      SELECT DISTINCT sb.doc_id
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.h = sb.h AND sa.doc_id < sb.doc_id
      JOIN db da ON da.doc_id = sa.doc_id
      JOIN db d2 ON d2.doc_id = sb.doc_id
      WHERE da.batch_id >= d2.batch_id - {ttl}
    ),
    verdict AS (
      SELECT h.batch_id,
             CASE WHEN exd.doc_id IS NOT NULL THEN 'exact'
                  WHEN nd.doc_id IS NOT NULL THEN 'near'
                  ELSE 'keep' END AS v
      FROM h LEFT JOIN exd ON exd.doc_id = h.doc_id
             LEFT JOIN nd ON nd.doc_id = h.doc_id
    )
    SELECT batch_id,
           COUNT(*) AS arrived,
           COUNT(*) FILTER (WHERE v = 'exact') AS exact_dups,
           COUNT(*) FILTER (WHERE v = 'near') AS near_dups,
           COUNT(*) FILTER (WHERE v = 'keep') AS survivors
    FROM verdict GROUP BY 1 ORDER BY 1
"""


def _dct_oracle_sql() -> str:
    from engine.similarity import _MINHASH_P

    return _DCT_SQL.format(files=_DC_FILES, p=_MINHASH_P, ttl=_DC_TTL)


@register("stream_dedup_cascade_ttl", sql=_dct_oracle_sql)
def stream_dedup_cascade_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup cascade with RETENTION-BOUNDED state (r12): identical
    ingest loop to :func:`stream_dedup_cascade`, but a sighting only
    suppresses duplicates for _DC_TTL batches — the 100 TB reality,
    where dedup state cannot grow with the corpus forever and every
    production ingest pipeline bounds it by a retention horizon
    (time-partitioned Bloom banks, TTL'd RocksDB state, Kafka
    compaction windows are all this same idea).

    Semantics (last-seen refresh — deliberately recursion-free): a doc
    is an exact-dup iff ANY arrival of the same content hash happened
    within the last _DC_TTL batches (every arrival refreshes the
    clock, dup or not); an exact-survivor is a near-dup iff any of its
    6 MinHash band buckets was claimed by an earlier exact-survivor
    within the window. Expired sightings re-admit the doc — the funnel
    differs from the unbounded cascade exactly on expiry (pinned by
    test).

    State architecture: the same hash-prefix-bucketed append-only
    ledgers as the unbounded cascade, with a batch_id column. Appends
    stay O(batch) (the batch's distinct hashes / the survivors' band
    claims, stamped with the batch id — no anti-join needed: the
    batch column keys recurrence instead of set semantics). Reads add
    `batch_id >= k − TTL` on top of the partition prune + dynamic IN
    filter, so join input stays batch-bounded AND window-bounded.
    Compaction is RETENTION-APPLYING: the threshold rewrite drops
    expired rows (and deletes fully-expired buckets), so steady-state
    ledger SIZE is O(window × arrival rate), not O(corpus) — pure
    space reclamation, since reads filter the window regardless of
    when compaction last ran (correctness never depends on it).

    FULLY VALUE-ORACLED: same replay fixture as the unbounded cascade;
    the whole TTL recurrence unrolls in flat SQL (_DCT_SQL) because
    last-seen refresh makes dup status a join against prior ARRIVALS,
    not prior survivors.

    Batch body: :func:`_run_dedup_cascade` (shared with the unbounded
    cascade — VERDICT r12 task 7); epoch commit: :func:`_epoch_sink`."""
    return _run_dedup_cascade(
        spark, sf, "dedup_cascade_ttl_state", ttl=_DC_TTL
    )


# --------------------------------------------------------------------------
# Streaming decontamination: the ingestion loop's benchmark gate
# --------------------------------------------------------------------------

#: the streaming gate replayed in pure SQL: batch = contiguous doc_id
#: chunk (the _doc_replay_dir slicing rule), the benchmark gram set is
#: STATIC (all doc_id % 97 == 0 docs' distinct 8-grams — the
#: pipeline_decontaminate rule), and a non-member arrival is
#: contaminated iff it shares ANY 8-gram with that set.
_SDX_SQL = """
    WITH d AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    db AS (
      SELECT doc_id,
             CAST(r // CAST(CEIL(n / {files}.0) AS BIGINT) AS INT) AS batch_id
      FROM d
    ),
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(t) - 7),
               i -> ARRAY_TO_STRING(t[i:i+7], ' ')))) AS s
      FROM toks WHERE LEN(t) >= 8
    ),
    eval_grams AS (
      SELECT DISTINCT s FROM grams WHERE doc_id % 97 = 0
    ),
    contam AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN eval_grams e USING (s)
      WHERE g.doc_id % 97 != 0
    )
    SELECT db.batch_id,
           COUNT(*) AS arrived,
           COUNT(*) FILTER (WHERE db.doc_id % 97 = 0) AS eval_members,
           COUNT(*) FILTER (WHERE c.doc_id IS NOT NULL) AS contaminated,
           COUNT(*) FILTER (WHERE db.doc_id % 97 != 0 AND c.doc_id IS NULL)
             AS kept
    FROM db LEFT JOIN contam c ON c.doc_id = db.doc_id
    GROUP BY 1 ORDER BY 1
"""


def _sdx_oracle_sql() -> str:
    return _SDX_SQL.format(files=_DC_FILES)


def _doc_8grams(docs: DataFrame) -> DataFrame:
    """(doc_id, s): each document's DISTINCT whitespace-token 8-grams —
    the pipeline_decontaminate expressions verbatim, shared by the
    streaming gate and the fused ingest pipeline."""
    d = docs.select("doc_id", F.split("text", " ").alias("t"))
    return d.filter(F.size("t") >= 8).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 8),
                    lambda i: F.concat_ws(" ", F.slice("t", i + 1, 8)),
                )
            )
        ).alias("s"),
    )


def _eval_grams_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Materialize the pinned benchmark claim set — the distinct
    8-grams of the eval docs (doc_id % 97 == 0) — once per run
    (benchmark-sized by construction; a production gate reads the
    benchmark store, not the stream). Returns the pinned relation.

    Pinning is a localCheckpoint, not a parquet roundtrip (r13): the
    set is consumed only as the broadcast side of every batch's gate
    join, so block-manager blocks serve each per-batch broadcast
    rebuild directly — the former write job + per-batch file
    listing/scan were pure overhead (guide §5/§6; job-count drop
    pinned by the timeline)."""
    return (
        _doc_8grams(
            T(spark, sf, "documents").filter(F.col("doc_id") % 97 == 0)
        )
        .select("s")
        .distinct()
        .localCheckpoint()
    )


@register("stream_decontaminate", sql=_sdx_oracle_sql)
def stream_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of pipeline_decontaminate — the benchmark gate of
    the ingestion loop (late r13; alongside the dedup cascades, the
    other filter a 100 TB continuous-ingest pipeline must apply BEFORE
    a document reaches the training store): documents arrive as
    micro-batches and each batch is screened against the STATIC
    benchmark 8-gram claim set; output = the per-batch funnel
    (batch_id, arrived, eval_members, contaminated, kept).

    Plan shape per batch — the stream-static broadcast join pattern:
      * the benchmark gram set is built ONCE before the stream starts
        (benchmarks are small by construction — the eval side's
        distinct 8-grams materialize to a scratch relation the way a
        production gate would pin a benchmark snapshot) and enters
        every batch as a BROADCAST hash join: the arriving batch never
        shuffles, and state is benchmark-sized, not corpus-sized;
      * per batch: tokenize → distinct 8-grams (the
        pipeline_decontaminate expressions verbatim) → broadcast join →
        distinct hit doc_ids → ONE labeled aggregate for the funnel
        row. No persisted state, no ledger — the gate is stateless per
        document, which is exactly why it belongs in the ingest path
        (a contaminated doc is dropped before it costs storage or
        dedup work downstream).

    FULLY VALUE-ORACLED (_SDX_SQL): stateless semantics + the
    deterministic replay slicing make the whole funnel a flat SQL
    fold; the gram rule and the doc_id % 97 benchmark stand-in are
    pipeline_decontaminate's, so batch and streaming gates provably
    agree."""
    from engine.session import tune

    tune(spark)
    path = _doc_replay_dir(spark, sf)
    # ONE pinned snapshot shared by every batch (checkpointed blocks;
    # the per-batch broadcast rebuilds from memory, no file jobs)
    ev_grams = _eval_grams_snapshot(spark, sf)

    funnel: list[tuple] = []

    def gate(batch_df: DataFrame, epoch_id: int) -> None:
        k = len(funnel)
        hits = (
            _doc_8grams(batch_df.filter(F.col("doc_id") % 97 != 0))
            .join(F.broadcast(ev_grams), "s")
            .select("doc_id")
            .distinct()
            .withColumn("c", F.lit(True))
        )
        row = (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .agg(
                F.count(F.lit(1)).alias("arrived"),
                F.count(
                    F.when(F.col("doc_id") % 97 == 0, 1)
                ).alias("eval_members"),
                F.count("c").alias("contaminated"),
                F.count(
                    F.when(
                        (F.col("doc_id") % 97 != 0) & F.col("c").isNull(), 1
                    )
                ).alias("kept"),
            )
            .first()
        )
        funnel.append(
            (k, row["arrived"], row["eval_members"], row["contaminated"],
             row["kept"])
        )

    _run_stream(
        _slice_stream(spark, "doc_id long, text string", path),
        _foreach_batch(gate),
        shards=_dc_batch_parts(sf),
    )
    return _tiny_df(
        spark,
        funnel,
        "batch_id int, arrived long, eval_members long, contaminated long,"
        " kept long",
    ).orderBy("batch_id")


#: the fused ingest pipeline replayed in pure SQL: the gate CTEs
#: (_SDX_SQL's gram/contamination logic) compose with the cascade CTEs
#: (_DC_SQL's exact/near machinery) by ONE change — the cascade's `h`
#: relation excludes gated docs — exactly mirroring the Spark-side
#: fusion where the prefilter runs before any hashing.
_SIE_SQL = """
    WITH d AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    db AS (
      SELECT doc_id, text,
             CAST(r // CAST(CEIL(n / {files}.0) AS BIGINT) AS INT) AS batch_id
      FROM d
    ),
    toks0 AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(t) - 7),
               i -> ARRAY_TO_STRING(t[i:i+7], ' ')))) AS s
      FROM toks0 WHERE LEN(t) >= 8
    ),
    eval_grams AS (
      SELECT DISTINCT s FROM grams WHERE doc_id % 97 = 0
    ),
    contam AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN eval_grams e USING (s)
      WHERE g.doc_id % 97 != 0
    ),
    h AS (
      SELECT doc_id, batch_id, text,
             ('0x' || SUBSTR(MD5(COALESCE(text, '')), 1, 15))::BIGINT AS hh
      FROM db
      WHERE doc_id % 97 != 0
        AND doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    ex AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id) AS rn
      FROM h
    ),
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM ex WHERE rn = 1
    ),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    ds AS (SELECT doc_id,
                  UNNEST(LIST_TRANSFORM(sh,
                    s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT
                         % {p})) AS x
           FROM shing WHERE LEN(sh) > 0),
    sig AS (
      SELECT doc_id, band,
             MIN(((2 * band + 1) * x + 12345 * band) % {p}) AS h
      FROM ds CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band)
      GROUP BY doc_id, band
    ),
    nd AS (
      SELECT DISTINCT sb.doc_id
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.h = sb.h AND sa.doc_id < sb.doc_id
    ),
    verdict AS (
      SELECT ex.batch_id,
             CASE WHEN ex.rn > 1 THEN 'exact'
                  WHEN nd.doc_id IS NOT NULL THEN 'near'
                  ELSE 'keep' END AS v
      FROM ex LEFT JOIN nd ON nd.doc_id = ex.doc_id AND ex.rn = 1
    ),
    arr AS (
      SELECT db.batch_id,
             COUNT(*) AS arrived,
             COUNT(*) FILTER (WHERE db.doc_id % 97 = 0
                                 OR c.doc_id IS NOT NULL) AS gated_out
      FROM db LEFT JOIN contam c ON c.doc_id = db.doc_id
      GROUP BY 1
    ),
    casc AS (
      SELECT batch_id,
             COUNT(*) FILTER (WHERE v = 'exact') AS exact_dups,
             COUNT(*) FILTER (WHERE v = 'near') AS near_dups,
             COUNT(*) FILTER (WHERE v = 'keep') AS stored
      FROM verdict GROUP BY 1
    )
    SELECT arr.batch_id, arr.arrived, arr.gated_out,
           COALESCE(casc.exact_dups, 0) AS exact_dups,
           COALESCE(casc.near_dups, 0) AS near_dups,
           COALESCE(casc.stored, 0) AS stored
    FROM arr LEFT JOIN casc USING (batch_id)
    ORDER BY 1
"""


def _sie_oracle_sql() -> str:
    from engine.similarity import _MINHASH_P

    return _SIE_SQL.format(files=_DC_FILES, p=_MINHASH_P)


@register("stream_ingest_e2e", sql=_sie_oracle_sql)
def stream_ingest_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The FUSED ingestion pipeline (late r13): decontamination gate +
    dedup cascade composed inside ONE foreachBatch pass — the shape a
    100 TB continuous-ingest pipeline actually runs, because ordering
    the gate FIRST means contaminated and benchmark documents never
    cost hashing, ledger appends, or dedup state: the gate is
    stateless and benchmark-sized, the cascade's ledgers then track
    only admissible documents (state-size win, not just a fused plan).
    Output = the per-batch funnel (batch_id, arrived, gated_out,
    exact_dups, near_dups, stored).

    Composition mechanics: the benchmark 8-gram snapshot materializes
    once (_eval_grams_snapshot — the stream_decontaminate relation)
    and enters each batch as a broadcast anti-join BEFORE any hashing,
    via the shared cascade core's ``prefilter`` hook
    (:func:`_run_dedup_cascade` — the gate slots into the SAME
    epoch-keyed idempotent batch body both dedup cascades run, so
    compaction, dynamic IN pruning, and duplicate-epoch no-op
    semantics are inherited unchanged). The fused funnel joins the
    gate's per-batch removal counts with the cascade's funnel.

    FULLY VALUE-ORACLED (_SIE_SQL): the gate CTEs and the cascade CTEs
    compose with ONE change — the cascade's arrival relation excludes
    gated docs — exactly mirroring the Spark-side fusion point."""
    from engine.session import tune

    tune(spark)
    # ONE pinned snapshot, shared by every batch (checkpointed blocks;
    # the per-batch broadcast rebuilds from memory, no file jobs); same
    # session, so the foreachBatch closure can reference it directly.
    ev_grams = _eval_grams_snapshot(spark, sf)
    # raw arrivals per batch index: keyed, so a redelivered epoch (same
    # index from _epoch_sink) overwrites instead of adding a row
    removed: dict[int, int] = {}

    def gate(batch_df: DataFrame, k: int, submit: Callable) -> DataFrame:
        hits = (
            _doc_8grams(batch_df.filter(F.col("doc_id") % 97 != 0))
            .join(F.broadcast(ev_grams), "s")
            .select("doc_id")
            .distinct()
        )
        keep_plan = batch_df.filter(F.col("doc_id") % 97 != 0).join(
            hits, "doc_id", "left_anti"
        )
        # ONE gate action besides the raw-batch count (was two: the
        # cascade funnel's own `arrived` for this batch IS keep.count()
        # — the prefiltered batch flows into the funnel aggregate, and
        # a gate-emptied batch still appends a zero row — so gated_out
        # is recovered as raw - funnel.arrived in the assembly below).
        # The two actions that remain — checkpointing keep (the cascade
        # body consumes it repeatedly) and the raw count — share only
        # batch_df, so they run overlapped (guide §2.6) instead of
        # paying two sequential per-batch job latencies.
        f_keep = submit(keep_plan.localCheckpoint)
        f_cnt = submit(batch_df.count)
        keep = f_keep.result()
        removed[k] = f_cnt.result()
        return keep

    fun = _run_dedup_cascade(
        spark, sf, "ingest_e2e_state", ttl=None, prefilter=gate
    )
    z = F.lit(0).cast("long")
    rem = _tiny_df(spark, sorted(removed.items()), "batch_id int, arrived long")
    return (
        rem.join(
            fun.select(
                "batch_id",
                F.col("arrived").alias("kept"),
                "exact_dups",
                "near_dups",
                F.col("survivors").alias("stored"),
            ),
            "batch_id",
            "left",
        )
        .select(
            "batch_id",
            "arrived",
            (F.col("arrived") - F.coalesce("kept", z)).alias("gated_out"),
            F.coalesce("exact_dups", z).alias("exact_dups"),
            F.coalesce("near_dups", z).alias("near_dups"),
            F.coalesce("stored", z).alias("stored"),
        )
        .orderBy("batch_id")
    )
