"""SparkSession factory and table catalog.

The driver passes its own SparkSession to ``entry()``/``queries()``;
this factory is used by tests and bench so both run with the same
scale-appropriate settings (AQE on, low shuffle partitions for local
mode — at cluster scale these come from spark-submit conf instead).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: every table the driver pre-registers as a DuckDB view (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to always broadcast in joins.
#: At 100 TB, region/nation are fixed-size and supplier/part grow slowly
#: relative to the fact tables; the broadcast hint removes the shuffle on
#: the big side entirely (AQE would usually do this, but being explicit
#: keeps the plan stable across statistics drift).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


def get_spark(app_name: str = "engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


#: sessions already tuned (weak refs — a stopped session's entry dies
#: with the wrapper object instead of pinning it)
import weakref

_TUNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def tune(spark: SparkSession) -> None:
    """Session invariants the engine owns (SURVEY.md §4.3), applied to
    whatever session the caller hands us (the driver's is unconfigured):

    - timezone pinned to UTC: Spark interprets timestamp literals and
      date_trunc via session tz, DuckDB (the oracle) uses naive
      timestamps — UTC makes them agree on any machine.
    - shuffle parallelism right-sized when the session still has the
      stock default: 200 shuffle partitions (and thus 200 streaming
      state store shards) is overhead-dominated at local scale factors.
      AQE coalesces batch shuffles, but streaming state partitioning is
      fixed at query start, so this must run before the first streaming
      plan — every table loader AND the stream reader call it. On a
      real cluster these come from spark-submit conf instead."""
    # applied once per live session object: each conf get/set is a py4j
    # round trip (~1 ms), and every table load calls tune — across a
    # full-registry sweep that is seconds of pure driver chatter. A new
    # session (tests, a restarted driver) is a new object → tuned fresh.
    if spark in _TUNED_SESSIONS:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    # Let AQE re-coalesce the shuffle that POPULATES a cache (off by
    # default): graph/similarity keys cache small derived relations
    # (edge lists, band indexes) whose build shuffle otherwise pins a
    # session-parallelism-sized layout that every downstream job then
    # pays in task launches (r13 timelines: 32-65-task micro-jobs over
    # few-thousand-row caches). Safe here by audit: the engine contains
    # ZERO partition-sensitive primitives (no rand/spark_partition_id/
    # monotonically_increasing_id — results are declared partition-
    # count-invariant), the one scan-ORDER-sensitive cache
    # (agg_theil_sen_slope) has no exchange in its cached plan, and
    # explicit repartition(n) builds (parallelize_scan) use fixed-
    # number shuffles AQE leaves alone. Scale-correct, not a local[32]
    # hack: on any cluster the coalesce target is AQE's advisory size.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    _TUNED_SESSIONS.add(spark)


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the block, then put each back to its previous
    value — or unset it if it was unset — even when the block raises.
    The one place engine code changes a session conf for a block of
    work (the plan-time confs of a query, a right-sized loop shuffle
    width, a streaming query's start)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped with two physical types for ``ts``
    across testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
    reader rejects outright — PARQUET_TYPE_ILLEGAL — unless read as raw
    int64 via ``spark.sql.legacy.parquet.nanosAsLong``) and plain
    TIMESTAMP(MICROS) (read natively, as TIMESTAMP_NTZ). Adapt to the
    schema actually on disk; either way the result column is a
    session-TZ (UTC) TIMESTAMP at microsecond precision, and every
    event-time oracle applies the same truncation on the DuckDB side
    (``make_timestamp(epoch_ns(ts)//1000)``) so both engines see
    identical instants.
    """
    from pyspark.sql.types import LongType

    # callers hit this loader directly (not only through load_table), so
    # the session invariants — UTC pin, right-sized shuffle partitions —
    # must be applied HERE too: in the driver's unconfigured session a
    # tune-less events query would otherwise run with stock partitions
    # and, on a non-UTC host, shifted calendar extractions.
    tune(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema memo as in load_table (the inferred shape depends only on
    # the file bytes and the nanosAsLong conf set just above)
    key = (sf_dir, "events", data_fingerprint(sf_dir, "events"))
    sch = _TABLE_SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        _TABLE_SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(sch).parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, LongType):
        # integer division on the long — going through double would lose
        # precision (epoch-ns ~1.7e18 exceeds double's exact-int range)
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    # native µs timestamp (NTZ) — cast to session-TZ timestamp so every
    # downstream epoch/window expression sees the same type as before
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


#: DuckDB-side canonical events relation (microsecond-truncated ts),
#: used as `WITH e AS ({EVENTS_US_SQL})` in every event-time oracle.
EVENTS_US_SQL = (
    "SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, "
    "user_id, event_type, value, props FROM events"
)


def fast_hash() -> bool:
    """True when ``SPARK_GRAFT_FAST_HASH=1``: the sketch family hashes
    with JVM-native ``xxhash64`` instead of the portable md5-derived
    60-bit family. Fast mode is the production configuration (one
    codegen'd long op per row instead of md5 + hex-substring + base
    conversion, ~2× on hash-dominated sketches); portable mode — the
    default, and what every oracle comparison runs under — exists so
    DuckDB can rebuild the IDENTICAL sketch and value-check estimates
    instead of merely bound-checking them. bench.py enables fast mode
    (and discloses it in its JSON); correctness sweeps never do."""
    import os as _os

    return _os.environ.get("SPARK_GRAFT_FAST_HASH") == "1"


def hash60(col) -> F.Column:
    """Uniform non-negative 60-bit hash of a (string-castable) column —
    the ONE hash primitive behind the sketch family (count-min, KMV,
    Bloom, HLL, join-size AGMS, MinHash). Portable mode: first 15 hex
    chars of md5 parsed base-16 (any engine reproduces it — verified
    Spark ``conv(substring(md5(x),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT``). Fast mode (see
    :func:`fast_hash`): ``xxhash64`` masked to the same 60-bit range,
    so every downstream register/width/space constant (2^60, div/mod
    splits) holds unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    if fast_hash():
        return F.xxhash64(c.cast("string")).bitwiseAND(F.lit((1 << 60) - 1))
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


#: inferred parquet schema per (sf_dir, table, data fingerprint) —
#: process-local. ``spark.read.parquet`` re-infers the schema on EVERY
#: call (a driver-side footer read + listing, measured ~60-110 ms);
#: across a full-registry sweep (~10^3 loads) that is tens of seconds
#: of pure metadata overhead (guide §6.1: schema known → pass it).
#: Keyed on :func:`data_fingerprint` so a rewritten table can never
#: serve a stale schema; values are plain StructTypes (session-free).
_TABLE_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Parquet scan → Catalyst gets pushdown,
    column pruning, and row-group skipping for free.

    Applies :func:`tune` first — see its docstring."""
    tune(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name, data_fingerprint(sf_dir, name))
    sch = _TABLE_SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _TABLE_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand used throughout the query modules."""
    return load_table(spark, sf_dir, name)


_FOOTER_SUM_CACHE: dict = {}


def _footer_sum(sf_dir: str, table: str, attr: str) -> int | None:
    """Sum a pyarrow footer-metadata attribute (num_row_groups /
    num_rows) across a parquet source's files — ~ms, no JVM. Memoized
    on :func:`data_fingerprint` (per-file name+mtime+size for dirs) so
    an in-place part-file rewrite can never serve a stale value (the
    ADVICE r2 class a bare dir-mtime key would miss). Recursive glob so
    partitioned layouts (key=val subdirs) are counted too. Returns
    ``None`` if the source or ANY file's footer is unreadable — callers
    choose their own fallback; a silent partial sum is never returned."""
    import pathlib

    import pyarrow.parquet as pq

    key = (sf_dir, table, attr, data_fingerprint(sf_dir, table))
    if key not in _FOOTER_SUM_CACHE:
        p = pathlib.Path(sf_dir) / f"{table}.parquet"
        try:
            files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
            total = 0
            for f in files:
                total += getattr(pq.ParquetFile(f).metadata, attr)
        except Exception:
            total = None
        _FOOTER_SUM_CACHE[key] = total
    return _FOOTER_SUM_CACHE[key]


def scan_units(sf_dir: str, table: str) -> int:
    """Parallelizable units of a parquet source = total row groups
    across its files (footer metadata via :func:`_footer_sum`). This is
    what Spark's scan can split on — and the JVM-free probe
    parallelize_scan needs: asking the session
    (df.rdd.getNumPartitions() / df.inputFiles()) costs a ~0.15 s py4j
    analysis round-trip PER CALL, which out-weighed the fan-out win on
    the fast keys when measured. Falls back to 1 (serial scan, always
    safe) when footers are unreadable."""
    units = _footer_sum(sf_dir, table, "num_row_groups")
    return max(1, units) if units is not None else 1


def table_rows(sf_dir: str, table: str) -> int | None:
    """Exact row count of a parquet source from footer metadata
    (:func:`_footer_sum`) — for sizing decisions (e.g. the LSH adaptive
    bucket width) that only need N, so they never pay a full Spark
    count job on the hot path (review r10). Returns ``None`` (never a
    partial count) when any footer is unreadable — callers fall back to
    a real Spark count, so a wrong N can never silently mis-size a
    plan."""
    return _footer_sum(sf_dir, table, "num_rows")


def parallelize_scan(df: DataFrame, units: int | None = None) -> DataFrame:
    """Spread a LOW-PARALLELISM scan across cores before CPU-heavy
    per-row work (explode / md5 / regexp / Python kernels).

    The local testdata ships single-row-group parquet files, which caps
    every scan stage at one task — tokenize/shingle/decode work that
    should fan out over 32 cores runs serial (and a mapInPandas kernel
    runs in ONE Python worker). At cluster scale the scan has natural
    parallelism (many files × row groups) and this is a NO-OP — the
    repartition only fires when scan parallelism is below half the
    cores, so the extra shuffle never exists where it would hurt.

    ``units``: pass :func:`scan_units` for the source when known (the
    cheap pyarrow probe); without it the session is asked, which costs
    a py4j analysis round-trip."""
    sc = df.sparkSession.sparkContext
    if units is None:
        units = df.rdd.getNumPartitions()
    if units < sc.defaultParallelism // 2:
        return df.repartition(sc.defaultParallelism)
    return df


def scratch_dir(subdir: str) -> str:
    """Writable scratch area for sink/roundtrip queries and for
    :func:`artifact` (kept inside the repo tree; gitignored)."""
    import pathlib

    p = pathlib.Path(__file__).resolve().parent.parent / ".scratch" / subdir
    p.mkdir(parents=True, exist_ok=True)
    return str(p)


def tiny_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-local rows (trajectories, merge tables, 1-row results) as
    a ONE-partition DataFrame. ``spark.createDataFrame(list)`` slices
    the list across defaultParallelism (32 local) partitions, so a
    handful of rows pays ~32-64 task launches through the terminal
    sort/materialize (~0.3 s/key measured, guide §1 timeline); one
    partition is one task. Column values, types and row order are
    unchanged (a 1-partition relation additionally makes the unordered
    case deterministic). At cluster scale these relations are
    observability-sized (K rows), so one partition is also the right
    layout there — they broadcast into any join that touches them."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


#: caches created while BUILDING a query whose lifetime must extend past
#: the function return (the returned DataFrame still references them) —
#: drained by the registry right before the NEXT query is built, so a
#: 155-query driver sweep doesn't accumulate executor storage for the
#: whole session (r2 driver bench: late-sweep queries ran 2–5× slower
#: than the same queries benched in isolation).
_SCRATCH_CACHES: list[DataFrame] = []


def scratch_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + track for deferred :func:`drain_scratch_caches`."""
    _SCRATCH_CACHES.append(df.cache())
    return df


def drain_scratch_caches() -> None:
    while _SCRATCH_CACHES:
        try:
            _SCRATCH_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def sf_tag(sf: str) -> str:
    """Filesystem-safe name of a scale-factor directory
    (``/data/sf0.01/`` → ``sf0_01``) — the prefix of every scratch
    artifact and run-state directory."""
    return os.path.basename(sf.rstrip("/")).replace(".", "_")


def artifact_path(kind: str, sf: str, tables: tuple, *parts) -> str:
    """Where the scratch artifact of ``kind`` built from ``tables`` of
    ``sf`` lives: ``.scratch/<kind>/<sf_tag>_<parts>_<fingerprint>_<hash
    mode>``. The name carries every input — the source fingerprint
    (:func:`data_fingerprint`), the hash family (:func:`fast_hash`) and
    the caller's ``parts`` (algorithm version, sizes, slice counts) — so
    a path that exists can only hold an artifact of exactly these
    inputs. Creates ``.scratch/<kind>`` but never the leaf: oracles call
    this to name an artifact without building it."""
    fp = "-".join(data_fingerprint(sf, t) for t in tables)
    mode = "xx" if fast_hash() else "md5"
    name = "_".join(str(p) for p in (sf_tag(sf), *parts, fp, mode) if p != "")
    return os.path.join(scratch_dir(kind), name)


#: marker file inside a published artifact; its content is the ident
ARTIFACT_MARKER = "_ARTIFACT"


def artifact(path: str, build, ident: str = "") -> str:
    """Build-once scratch artifact at ``path`` (name it with
    :func:`artifact_path`); returns ``path``.

    Fresh means ``path/_ARTIFACT`` exists and holds ``ident`` (inputs
    the path cannot carry, e.g. a derived generation's cell list), so a
    fresh artifact is reused by every process. Otherwise ``build(tmp)``
    fills the process-private directory ``<path>.tmp.<pid>``, the marker
    is written inside it, the stale ``path`` is removed and ONE
    ``os.rename`` publishes: a reader sees a complete artifact or none.
    A build that raises publishes nothing and its temp directory is
    removed; a leftover temp directory of another process is never
    adopted; when another process publishes first, this one discards its
    temp."""
    import shutil

    def fresh() -> bool:
        try:
            with open(os.path.join(path, ARTIFACT_MARKER)) as fh:
                return fh.read() == ident
        except OSError:
            return False

    if fresh():
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        with open(os.path.join(tmp, ARTIFACT_MARKER), "w") as fh:
            fh.write(ident)
        if not fresh():
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                pass  # another process published first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def data_fingerprint(sf_dir: str, table: str) -> str:
    """mtime+size fingerprint of a source parquet, carried in every
    :func:`artifact_path` so regenerated testdata or a changed upstream
    can never be served a stale artifact."""
    import hashlib
    import pathlib

    p = pathlib.Path(sf_dir) / f"{table}.parquet"
    try:
        if p.is_dir():
            # RECURSIVE (ADVICE r10): _footer_sum reads files via rglob,
            # so the memo key must cover exactly those files — a
            # top-level iterdir() would miss an in-place part-file
            # rewrite inside a key=val subdir (subdir mtime/size
            # unchanged) and serve a stale footer sum.
            stats = sorted(
                (
                    str(f.relative_to(p)),
                    f.stat().st_mtime_ns,
                    f.stat().st_size,
                )
                for f in p.rglob("*")
                if f.is_file()
            )
        else:
            st = p.stat()
            stats = [(p.name, st.st_mtime_ns, st.st_size)]
    except OSError:
        stats = []
    return hashlib.sha1(repr(stats).encode()).hexdigest()[:10]


def oracle_sf() -> str:
    """The scale-factor directory the DuckDB oracle contract runs at.

    The driver's correctness sweep is fixed at sf0.01; the builder-side
    3-SF sims override via SPARK_GRAFT_ORACLE_SF (same variable
    tests/conftest.py reads) so artifact-pinned oracle builders resolve
    the SAME fixture the Spark side plants, at any sim SF."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
