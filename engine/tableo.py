"""Round-7 fourth wave (SURVEY.md §2 Table O): platform mechanics —
custom PySpark Python DataSource reader AND writer (partition-parallel
ingestion from / two-phase-commit publication to non-file systems),
incremental mergeable-rollup maintenance, a data-quality expectations
report (rule violations incl. referential integrity), tie-aware
Spearman rank correlation, and fixed-round k-truss peeling.

Reference parity: the reference (coursework fork, SURVEY.md §0) has no
analog; these extend the engine along the platform axis with the
repo's contracts: closed-form deterministic generators the oracle can
replay, exact integer money, and partial-aggregate merge trees instead
of rescans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from engine.canon import dround
from engine.registry import register
from engine.session import EVENTS_US_SQL, T, load_events, tiny_df

# --------------------------------------------------------------------------
# Custom Python DataSource (deterministic generator, partition-parallel)
# --------------------------------------------------------------------------

_GEN_N = 100_000
_GEN_PARTS = 32
_GEN_MULT = 2654435761  # Knuth multiplicative constant
_GEN_MOD = 1 << 31


class _DetGenSource(DataSource):
    """Deterministic generator DataSource: row i of n carries
    value = (i · {mult}) mod 2^31. Partition p of P covers the integer
    range [n·p/P, n·(p+1)/P) — each InputPartition is read by an
    independent Python worker, the same shape an internal-service /
    REST-shard / queue reader would take at scale (the partition list
    is the shard map; no driver materialization)."""

    @classmethod
    def name(cls) -> str:
        return "spark_graft_detgen"

    def schema(self) -> str:
        return "id bigint, val bigint"

    def reader(self, schema):  # noqa: ANN001 - framework signature
        return _DetGenReader(self.options)


class _DetGenReader(DataSourceReader):
    def __init__(self, options) -> None:  # noqa: ANN001
        self.n = int(options.get("n", _GEN_N))
        self.parts = int(options.get("parts", _GEN_PARTS))

    def partitions(self):
        return [InputPartition(p) for p in range(self.parts)]

    def read(self, partition):  # noqa: ANN001
        p = partition.value
        lo = self.n * p // self.parts
        hi = self.n * (p + 1) // self.parts
        for i in range(lo, hi):
            yield (i, (i * _GEN_MULT) % _GEN_MOD)


_DS_SQL = f"""
    SELECT CAST(i % 16 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM((i * {_GEN_MULT}) % {_GEN_MOD}) AS BIGINT) AS sum_val,
           CAST(MIN((i * {_GEN_MULT}) % {_GEN_MOD}) AS BIGINT) AS min_val,
           CAST(MAX((i * {_GEN_MULT}) % {_GEN_MOD}) AS BIGINT) AS max_val
    FROM range({_GEN_N}) t(i)
    GROUP BY 1 ORDER BY 1
"""


@register("scan_python_datasource", sql=_DS_SQL)
def scan_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom PySpark Python DataSource (the Spark 4 `DataSource` API):
    a partition-parallel reader for data that does NOT live in files —
    the integration point for internal services, queue shards, or
    proprietary stores. Here the source is a closed-form deterministic
    generator (row i → (i·Knuth) mod 2^31 over {_GEN_PARTS} independent
    InputPartitions) so the oracle replays it exactly from
    `range({_GEN_N})`; swapping the generator body for a real client
    keeps every Spark-side property: the partition list is the shard
    map, each partition streams through its own Python worker
    (BatchScan (Python) — NOT per-row BatchEvalPython in a hot
    expression), and the downstream groupBy is ordinary partial-
    aggregable JVM work. sf is unused by construction — the source is
    the thing under test, not the tables."""
    try:
        spark.dataSource.register(_DetGenSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("spark_graft_detgen")
        .option("n", str(_GEN_N))
        .option("parts", str(_GEN_PARTS))
        .load()
    )
    return (
        df.groupBy((F.col("id") % 16).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# Incremental mergeable rollup (events: state + delta == full recompute)
# --------------------------------------------------------------------------

_IR_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_val_cents,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           CAST(MIN(ts) AS DATE) AS first_date,
           CAST(MAX(ts) AS DATE) AS last_date
    FROM e GROUP BY 1 ORDER BY 1
"""


@register("agg_incremental_rollup", sql=_IR_SQL)
def agg_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance for an aggregation rollup: the
    engine does NOT rescan history when a new day arrives — it merges
    the materialized per-(day, type) PARTIAL aggregates (state) with
    the new day's partials (delta) and re-aggregates, the rollup-tree
    pattern that turns a 100 TB daily refresh into
    O(|new partition| + |state rows|).

    The oracle is the FULL recompute over all events — the comparison
    IS the proof that the merge is lossless: count/sum/min/max merge
    associatively, and n_days falls out exactly because state and
    delta partition the date domain (each (date, type) partial lives
    on exactly one side, so post-merge row count per type == distinct
    dates). Money rides exact integer cents through both levels, so
    partial-merge order cannot move a hash."""
    e = load_events(spark, sf).select(
        F.to_date("ts").alias("d"),
        "event_type",
        "ts",
        dround(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    cutoff = e.agg(F.max("d")).first()[0]
    partial = lambda df: df.groupBy("d", "event_type").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )
    state = partial(e.filter(F.col("d") < F.lit(cutoff)))
    delta = partial(e.filter(F.col("d") == F.lit(cutoff)))
    return (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("sum_val_cents"),
            F.count(F.lit(1)).alias("n_days"),
            F.min("mn").cast("date").alias("first_date"),
            F.max("mx").cast("date").alias("last_date"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Data-quality expectations report (orders, incl. referential integrity)
# --------------------------------------------------------------------------

_EXP_SQL = """
    WITH m AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_totalprice <= 0) AS v_pos,
             COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
               AS v_dom,
             COUNT(*) FILTER (WHERE o_orderdate >= TIMESTAMP '2001-01-01')
               AS v_date,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uni
      FROM orders
    ),
    ri AS (
      SELECT COUNT(*) AS v_ri
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_custkey IS NULL
    )
    SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'positive_totalprice' AS rule, n AS n_checked,
             v_pos AS n_violations FROM m
      UNION ALL SELECT 'status_domain', n, v_dom FROM m
      UNION ALL SELECT 'orderdate_sla', n, v_date FROM m
      UNION ALL SELECT 'unique_orderkey', n, v_uni FROM m
      UNION ALL SELECT 'ri_custkey_exists', n, v_ri FROM m, ri
    ) ORDER BY rule
"""


@register("scan_expectations_report", sql=_EXP_SQL)
def scan_expectations_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectations report (the Great-Expectations /
    dbt-test primitive): declarative rules over a table — positivity,
    value domain, freshness SLA, key uniqueness, referential integrity
    against a second table — each reporting checked/violation counts
    and a pass verdict; the gate a 100 TB ingest runs before
    promotion. The date-SLA rule genuinely FAILS on the shipped data
    (orders extend past the SLA horizon), so a silently-all-green
    report cannot pass the oracle.

    Plan shape: the four single-table rules share ONE partial-
    aggregable scan (conditional counts + a distinct count — no rule
    re-scans); referential integrity is a LEFT ANTI join aggregated to
    one row; both single-row results cross-join (broadcast) and
    unpivot via stack — violations traffic is 2 rows, never row-level
    quarantine output."""
    o = T(spark, sf, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v_pos"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("v_dom"),
        F.count(
            F.when(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"), 1)
        ).alias("v_date"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "v_uni"
        ),
    )
    c = T(spark, sf, "customer").select("c_custkey")
    ri = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v_ri"))
    )
    stacked = m.crossJoin(F.broadcast(ri)).selectExpr(
        "stack(5,"
        " 'positive_totalprice', n, v_pos,"
        " 'status_domain', n, v_dom,"
        " 'orderdate_sla', n, v_date,"
        " 'unique_orderkey', n, v_uni,"
        " 'ri_custkey_exists', n, v_ri"
        ") as (rule, n_checked, n_violations)"
    )
    return stacked.select(
        "rule",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule")


# --------------------------------------------------------------------------
# Spearman rank correlation (tie-aware, scale-safe ranks) — lineitem
# --------------------------------------------------------------------------

_SP_BUCKETS = 32

_SP_SQL = """
    WITH c AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    rx AS (
      SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x) - cnt) + cnt + 1 AS r2
      FROM (SELECT x, COUNT(*) AS cnt FROM c GROUP BY x)
    ),
    ry AS (
      SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y) - cnt) + cnt + 1 AS r2
      FROM (SELECT y, COUNT(*) AS cnt FROM c GROUP BY y)
    ),
    j AS (
      SELECT rx.r2 AS a, ry.r2 AS b
      FROM c JOIN rx ON rx.x = c.x JOIN ry ON ry.y = c.y
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
             SUM(CAST(a * a AS HUGEINT)) AS saa,
             SUM(CAST(b * b AS HUGEINT)) AS sbb,
             SUM(CAST(a * b AS HUGEINT)) AS sab
      FROM j
    )
    SELECT n AS n_rows,
           (SELECT COUNT(*) FROM rx) AS n_distinct_x,
           (SELECT COUNT(*) FROM ry) AS n_distinct_y,
           ROUND(CAST(n * sab - sa * sb AS DOUBLE)
                 / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
                    * SQRT(CAST(n * sbb - sb * sb AS DOUBLE))) * 1e6) / 1e6
             AS spearman_rho
    FROM s
"""


def _avg_rank2(vals: DataFrame, col: str) -> tuple:
    """((value, doubled-average-rank) relation, n_distinct) for a
    column with ties: r2(v) = 2·|{rows < v}| + cnt(v) + 1 — an exact
    INTEGER (average ranks are half-integers, so everything rides
    doubled). The cumulative count over ordered DISTINCT VALUES is
    computed with the width_bucket offset-merge (value-range buckets,
    per-bucket windows, bucket totals broadcast back) — never a
    single-reducer window: at 100 TB the distinct-value relation of a
    price column is itself fact-scale. n_distinct falls out of the same
    bucket-totals collect (one extra count per bucket row), so callers
    don't pay a separate .count() action re-executing the rank plan
    (guide §1: two jobs removed, measured r13)."""
    from pyspark.sql import Window

    from engine.session import scratch_cache

    # the distinct-value relation feeds THREE consumers (lo/hi probe,
    # bucket offsets, the rank window) — cache it or the value-level
    # shuffle re-executes once per consumer (measured 4.6 s -> 2 s)
    cnts = scratch_cache(vals.groupBy(col).agg(F.count(F.lit(1)).alias("cnt")))
    lo, hi = cnts.agg(F.min(col), F.max(col)).first()
    bucketed = cnts.withColumn(
        "bucket",
        F.width_bucket(
            F.col(col).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi) + 1.0),
            _SP_BUCKETS,
        ),
    )
    totals = {
        r["bucket"]: (r["t"], r["nd"])
        for r in bucketed.groupBy("bucket")
        .agg(F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("nd"))
        .collect()
    }
    n_distinct = sum(nd for _t, nd in totals.values())
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b][0]
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("bucket").orderBy(col)
    cum_in_bucket = F.sum("cnt").over(w) - F.col("cnt")
    ranked = bucketed.select(
        col,
        (
            2 * (cum_in_bucket + off_map[F.col("bucket")]) + F.col("cnt") + 1
        ).alias("r2"),
    )
    return ranked, n_distinct


@register("agg_spearman_rank", sql=_SP_SQL)
def agg_spearman_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-aware Spearman rank correlation between quantity and price —
    the robust monotone-association statistic (Pearson on average
    ranks), the standard screen for nonlinear feature/target
    relationships where raw Pearson (agg_corr_matrix) is fooled by
    outliers.

    Exactness contract: average ranks are half-integers, so they ride
    DOUBLED as exact longs (r2 = 2·cum_before + cnt + 1 from
    value-level counts); all five moment sums accumulate exact
    integers (decimal-promoted), and ρ's one division over two IEEE
    sqrt's lands on the same doubles in both engines, quantized 1e-6.
    Quantity has ~50 distinct values but PRICE's distinct-value
    relation is fact-scale at 100 TB, so the rank cumsum uses the
    width_bucket offset-merge (never a single-reducer global window);
    rank join-back on quantity is broadcast-sized, on price it is an
    ordinary hash equi-join."""
    from engine.session import scratch_cache

    # c feeds THREE consumers (x ranks, y ranks, the moment join) —
    # cached so lineitem is scanned once, not three times (guide §1
    # timeline: each rescan ran in the parquet scan's 3 tasks)
    c = scratch_cache(
        T(spark, sf, "lineitem").select(
            dround(F.col("l_quantity"), 0).cast("long").alias("x"),
            dround(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        )
    )
    rx, ndx = _avg_rank2(c.select("x"), "x")
    ry, ndy = _avg_rank2(c.select("y"), "y")
    rx = rx.withColumnRenamed("r2", "a")
    ry = ry.withColumnRenamed("r2", "b")
    j = c.join(F.broadcast(rx), "x").join(ry, "y")
    dec = "decimal(38,0)"
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast(dec)).alias("sa"),
        F.sum(F.col("b").cast(dec)).alias("sb"),
        F.sum((F.col("a") * F.col("a")).cast(dec)).alias("saa"),
        F.sum((F.col("b") * F.col("b")).cast(dec)).alias("sbb"),
        F.sum((F.col("a") * F.col("b")).cast(dec)).alias("sab"),
    )
    n = F.col("n").cast(dec)
    rho = dround(
        (n * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
        / (
            F.sqrt((n * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
            * F.sqrt((n * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double"))
        ),
        6,
    )
    return s.select(
        F.col("n").alias("n_rows"),
        F.lit(ndx).cast("long").alias("n_distinct_x"),
        F.lit(ndy).cast("long").alias("n_distinct_y"),
        rho.alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Fixed-round k-truss peeling (cohort clique graph from events)
# --------------------------------------------------------------------------

_KT_K = 4  # truss order: surviving edges need support >= K - 2
_KT_ROUNDS = 3
_KT_CHECK_MULT = 1_000_003  # edge checksum: u * MULT + v (exact longs)


def _ktruss_oracle_sql() -> str:
    ctes = [
        """
    cohort AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS day, user_id
      FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cohort a JOIN cohort b
        ON a.event_type = b.event_type AND a.day = b.day
      WHERE a.user_id < b.user_id
    )"""
    ]
    for i in range(_KT_ROUNDS):
        ctes.append(
            f"""
    tri{i} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e{i} e1 JOIN e{i} e2 ON e2.u = e1.v
      JOIN e{i} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    sup{i} AS MATERIALIZED (
      SELECT u, v, COUNT(*) AS sup FROM (
        SELECT a AS u, b AS v FROM tri{i}
        UNION ALL SELECT b AS u, c AS v FROM tri{i}
        UNION ALL SELECT a AS u, c AS v FROM tri{i}) _t
      GROUP BY 1, 2
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      JOIN sup{i} s ON s.u = e.u AND s.v = e.v
      WHERE s.sup >= {_KT_K - 2}
    )"""
        )
    rounds = "\n      UNION ALL ".join(
        f"""SELECT {i + 1} AS round,
             (SELECT COUNT(*) FROM e{i}) AS n_edges_before,
             (SELECT COUNT(*) FROM e{i + 1}) AS n_edges_after,
             (SELECT COALESCE(CAST(SUM(u * {_KT_CHECK_MULT} + v) AS BIGINT), 0)
              FROM e{i + 1}) AS checksum_after"""
        for i in range(_KT_ROUNDS)
    )
    return (
        "WITH " + ",".join(ctes) + "\n    " + rounds + "\n    ORDER BY round"
    )


@register("graph_ktruss_peel", sql=_ktruss_oracle_sql)
def graph_ktruss_peel(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-round k-truss peeling (k={_KT_K}, {_KT_ROUNDS} rounds) over
    the cohort CLIQUE graph (graph_triangles' edge set): each round
    computes per-EDGE triangle support and drops edges supporting fewer
    than k−2 triangles — the community-core primitive one notch
    stronger than k-core (node degrees survive where edge support does
    not). The per-round (edges_before, edges_after, checksum) trajectory
    is the output; the checksum u·{_KT_CHECK_MULT}+v sums value-check
    WHICH edges survive, not just how many.

    Scale shape: the peel is a DataFrame loop on a relation that only
    ever SHRINKS; each round is one triangle enumeration on the ordered
    (u<v) edge set — two equi-joins — plus one partial-aggregable
    support count and a semi-join filter, with localCheckpoint(eager)
    cutting the per-round lineage (the k-core / pagerank lesson). All
    {_KT_ROUNDS} rounds run unconditionally, mirroring the oracle's
    fixed CTE chain; the trajectory rows are driver-assembled longs
    (≤ {_KT_ROUNDS} rows), never a union plan.

    SCALE POLICY (r10, retiring the r9 `weak` mark): the peel loop
    scales (it absorbed the r9 sf1x ~1000× triangle blow-up in 57.8×
    wall), but the cohort-CLIQUE edge CONSTRUCTION is quadratic in
    cohort size and oracle-pinned as this key's semantics. This key is
    the BOUNDED-COHORT variant; the 100 TB DEFAULT is
    `graph_ktruss_banded` (below) — same peel on the linear banded
    edge set, measured 1.7× at the same blow-up."""
    ev = T(spark, sf, "events")
    cohort = (
        ev.select(
            "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
        )
        .groupBy("event_type", "day", "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .filter(F.col("n_ev") >= 3)
        .drop("n_ev")
    )
    a, b = cohort.alias("a"), cohort.alias("b")
    edges = (
        a.join(b, ["event_type", "day"])
        .filter(F.col("a.user_id") < F.col("b.user_id"))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    traj = []
    # n_before of round r+1 IS round r's surviving count — carried from
    # the previous agg instead of a fresh full-pass count() (guide §1:
    # don't recompute what the last action returned); the checkpoint is
    # LAZY so the trajectory agg is the action that materializes it
    # (one pass per round, not two — the k-core pattern)
    n_before = edges.count()
    for rnd in range(1, _KT_ROUNDS + 1):
        e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= _KT_K - 2)
            .select("u", "v")
        )
        edges = edges.join(sup, ["u", "v"], "left_semi").localCheckpoint(
            eager=False
        )
        after = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col("u") * _KT_CHECK_MULT + F.col("v")), F.lit(0)
            ).alias("ck"),
        ).first()
        traj.append((rnd, n_before, after["n"], after["ck"]))
        n_before = after["n"]
    return tiny_df(
        spark,
        traj,
        "round int, n_edges_before long, n_edges_after long, checksum_after long",
    ).orderBy("round")


# --------------------------------------------------------------------------
# Custom Python DataSource WRITER (partition-parallel sink + commit protocol)
# --------------------------------------------------------------------------


class _SinkCommit(WriterCommitMessage):
    """Per-task commit message: (partition id, rows written)."""

    def __init__(self, pid: int, n: int) -> None:
        self.pid = pid
        self.n = n


class _DetSinkSource(DataSource):
    """Line-format sink DataSource: each task publishes its partition
    as one text file via write-temp-then-atomic-rename, and the DRIVER
    finalizes the job by writing _SUCCESS from the collected commit
    messages — the standard two-phase commit every real sink
    (object store, queue, service) needs so a retried task can never
    double-publish."""

    @classmethod
    def name(cls) -> str:
        return "spark_graft_detsink"

    def writer(self, schema, overwrite):  # noqa: ANN001 - framework signature
        return _DetSinkWriter(self.options)


class _DetSinkWriter(DataSourceWriter):
    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options["path"]

    def write(self, iterator):  # noqa: ANN001
        import os

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        lines = [f"{r[0]},{r[1]},{r[2]}" for r in iterator]
        tmp = os.path.join(self.path, f".part-{pid:05d}.tmp")
        final = os.path.join(self.path, f"part-{pid:05d}.txt")
        with open(tmp, "w") as f:
            if lines:
                f.write("\n".join(lines) + "\n")
        os.replace(tmp, final)  # atomic per-task publish
        return _SinkCommit(pid, len(lines))

    def commit(self, messages):  # noqa: ANN001
        import os

        total = sum(m.n for m in messages)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write(f"{len(messages)} tasks, {total} rows\n")

    def abort(self, messages):  # noqa: ANN001
        import glob
        import os

        for p in glob.glob(os.path.join(self.path, ".part-*.tmp")):
            os.remove(p)


_SINK_PARTS = 8

_SINK_SQL = """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY 1 ORDER BY 1
"""


@register("sink_python_datasource", sql=_SINK_SQL)
def sink_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """WRITER half of the Python DataSource API (scan_python_datasource
    is the reader): a deterministic orders slice flows through a custom
    partition-parallel sink — each task publishes one line-format file
    by write-then-atomic-rename and returns a WriterCommitMessage; the
    driver's commit() writes _SUCCESS only after every task reported —
    the two-phase protocol that makes task retries safe against
    double-publish on any real external sink. The sink output is then
    RE-READ and aggregated, so the oracle (the same aggregate straight
    off orders) value-checks the entire write→commit→read roundtrip,
    exact cents included.

    Fixture path embeds the source fingerprint; the directory is
    rebuilt per call (cheap: the slice is 1/7 of orders in
    {_SINK_PARTS} files) so a stale run can never serve."""
    import pathlib
    import shutil

    from engine.session import data_fingerprint, scratch_dir, sf_tag

    try:
        spark.dataSource.register(_DetSinkSource)
    except Exception:
        pass
    tag = sf_tag(sf)
    root = pathlib.Path(scratch_dir("pysink")) / (
        f"{tag}_{data_fingerprint(sf, 'orders')}"
    )
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True, exist_ok=True)

    src = (
        T(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            dround(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .repartition(_SINK_PARTS, "o_orderkey")
    )
    (
        src.write.format("spark_graft_detsink")
        .option("path", str(root))
        .mode("append")
        .save()
    )
    parsed = (
        spark.read.text(str(root) + "/part-*.txt")
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[1].alias("o_orderstatus"),
            F.col("p")[2].cast("long").alias("cents"),
        )
    )
    return (
        parsed.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# XML source roundtrip (completes the source matrix: csv/json/orc/text/xml)
# --------------------------------------------------------------------------

_XML_SQL = """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY 1 ORDER BY 1
"""


@register("scan_xml_roundtrip", sql=_XML_SQL)
def scan_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML source/sink roundtrip (Spark 4's built-in `xml` format —
    spark-xml graduated into core): write a deterministic orders slice
    as row-tagged XML, re-read with an EXPLICIT schema (inference would
    be a second full pass at 100 TB), aggregate — oracled against the
    SOURCE table, so the whole serialize→parse path is value-checked.
    Completes the source matrix next to csv / json-lines / orc / text /
    binary / parquet roundtrips.

    Money is converted to exact integer CENTS before serialization —
    longs round-trip through XML text exactly, sidestepping
    double-formatting differences entirely. Per-file parallelism holds
    on both sides (one XML doc per partition file, row-tag splitting
    inside)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from engine.session import scratch_dir

    out = scratch_dir("xml_roundtrip")
    o = (
        T(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            dround(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    (
        o.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(out)
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("cents", LongType()),
        ]
    )
    back = (
        spark.read.format("xml").option("rowTag", "order").schema(schema).load(out)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Cogrouped applyInPandas (two-table reconciliation in one Python pass)
# --------------------------------------------------------------------------

_CG_BUCKETS = 64

_CG_SQL = f"""
    WITH o AS (
      SELECT o_orderkey % {_CG_BUCKETS} AS bucket, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    l AS (
      SELECT l_orderkey % {_CG_BUCKETS} AS bucket, l_orderkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT b.bucket,
           COALESCE(os.n, 0) AS n_orders,
           COALESCE(ls.n, 0) AS n_lineitems,
           COALESCE(m.n, 0) AS n_matched_keys,
           COALESCE(os.s, 0) - COALESCE(ls.s, 0) AS diff_cents
    FROM (SELECT UNNEST(generate_series(0, {_CG_BUCKETS - 1})) AS bucket) b
    LEFT JOIN (SELECT bucket, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
               FROM o GROUP BY 1) os ON os.bucket = b.bucket
    LEFT JOIN (SELECT bucket, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
               FROM l GROUP BY 1) ls ON ls.bucket = b.bucket
    LEFT JOIN (SELECT o.bucket, COUNT(DISTINCT o.o_orderkey) AS n
               FROM o JOIN l ON l.l_orderkey = o.o_orderkey
               GROUP BY 1) m ON m.bucket = b.bucket
    ORDER BY b.bucket
"""


def _cg_reconcile(odf, ldf):  # noqa: ANN001 - pandas cogroup signature
    import pandas as pd

    bucket = int(
        odf["bucket"].iloc[0] if len(odf) else ldf["bucket"].iloc[0]
    )
    from engine.canon import round_half_away

    # HALF-AWAY cents (DuckDB ROUND / dround contract) — pandas
    # .round() is numpy half-to-even; safe on 2-decimal TPC-H money
    # only by accident, and a 3-decimal source would diverge on .5 ties
    ocents = round_half_away(odf["o_totalprice"] * 100).astype("int64")
    lcents = round_half_away(ldf["l_extendedprice"] * 100).astype("int64")
    matched = odf["o_orderkey"][odf["o_orderkey"].isin(ldf["l_orderkey"])]
    return pd.DataFrame(
        [
            {
                "bucket": bucket,
                "n_orders": len(odf),
                "n_lineitems": len(ldf),
                "n_matched_keys": int(matched.nunique()),
                "diff_cents": int(ocents.sum()) - int(lcents.sum()),
            }
        ]
    )


@register("udf_cogroup_pandas", sql=_CG_SQL)
def udf_cogroup_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """Cogrouped `applyInPandas` — the two-table Python escape hatch
    (`groupBy.cogroup(groupBy).applyInPandas`): BOTH relations shuffle
    on the same key and arrive as a PAIR of Arrow-backed pandas frames
    per group, the shape for cross-table reconciliation / as-of merge
    logic that genuinely needs imperative code. Here each of
    {_CG_BUCKETS} orderkey buckets reconciles orders against lineitem:
    row counts, matched keys, and the exact-cents revenue difference.

    This is a DECLARED Python-boundary key (like the udf_pandas_*
    family): one FlatMapCoGroupsInPandas, Arrow batch transfer both
    directions, integer-exact arithmetic inside pandas (int64 cents,
    never float sums). The oracle reproduces the reconciliation
    relationally. Bucketing to {_CG_BUCKETS} keeps groups coarse —
    per-ORDER groups would pay per-group Python overhead ~N times."""
    o = T(spark, sf, "orders").select(
        (F.col("o_orderkey") % _CG_BUCKETS).alias("bucket"),
        "o_orderkey",
        "o_totalprice",
    )
    li = T(spark, sf, "lineitem").select(
        (F.col("l_orderkey") % _CG_BUCKETS).alias("bucket"),
        "l_orderkey",
        "l_extendedprice",
    )
    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            _cg_reconcile,
            "bucket long, n_orders long, n_lineitems long,"
            " n_matched_keys long, diff_cents long",
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Native session_window operator (the built-in gap-sessionizer)
# --------------------------------------------------------------------------

_SW_GAP_MIN = 30
_SW_USER_MOD = 7

_SW_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    f AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL {_SW_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM e WHERE user_id % {_SW_USER_MOD} = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           MIN(ts) AS sess_start,
           MAX(ts) + INTERVAL {_SW_GAP_MIN} MINUTE AS sess_end,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, sess_start
"""


@register("win_session_window_native", sql=_SW_SQL)
def win_session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """The NATIVE `session_window` operator (Spark's built-in
    dynamic-gap sessionizer, usable identically in batch and Structured
    Streaming) — the API twin of the hand-rolled islands sessionization
    in `win_sessionize_gap` (analytics.py): same {_SW_GAP_MIN}-minute
    gap, and the oracle IS the islands formulation, so this key proves
    the built-in operator's merge semantics equal the relational
    definition — including the boundary rule PINNED BY PLANTED TEST:
    an event at EXACTLY prev_ts + gap still MERGES (sessions join when
    next_start <= prev_end), so the islands break is strictly
    ts − prev_ts > gap.

    One shuffle on user_id; the session merge runs inside Spark's
    UpdatingSessionsIterator without a second exchange. The user slice
    (user_id % {_SW_USER_MOD} == 0) bounds output; sessionization is
    per-user independent, so pre-filtering is semantically lossless.
    Money rides exact integer cents."""
    ev = load_events(spark, sf).filter(F.col("user_id") % _SW_USER_MOD == 0)
    sw = F.session_window("ts", f"{_SW_GAP_MIN} minutes")
    return (
        ev.select(
            "user_id",
            "ts",
            dround(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
            "sum_cents",
        )
        .orderBy("user_id", "sess_start")
    )


# --------------------------------------------------------------------------
# Polymorphic UDTF over a TABLE argument (per-key ordered iteration)
# --------------------------------------------------------------------------

_ST_USER_MOD = 11

_ST_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    f AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM e WHERE user_id % {_ST_USER_MOD} = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM f
    ),
    runs AS (
      SELECT user_id, run, ANY_VALUE(event_type) AS et, COUNT(*) AS len
      FROM r GROUP BY user_id, run
    ),
    best AS (
      SELECT user_id, len, et FROM (
        SELECT user_id, len, et,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, run) AS rn
        FROM runs) WHERE rn = 1
    )
    SELECT n.user_id, n.n_events,
           CAST(b.len AS BIGINT) AS max_streak,
           b.et AS streak_type
    FROM (SELECT user_id, COUNT(*) AS n_events FROM f GROUP BY user_id) n
    JOIN best b ON b.user_id = n.user_id
    ORDER BY n.user_id
"""


class _StreakUDTF:
    """Per-user longest same-type event streak — state that genuinely
    needs ORDERED single-pass iteration (the classic imperative escape
    the polymorphic-UDTF API exists for). One instance per PARTITION BY
    key; rows arrive in the declared ORDER BY."""

    def __init__(self) -> None:
        self.user = None
        self.n = 0
        self.prev = None
        self.cur = 0
        self.best = 0
        self.best_type = None

    def eval(self, row):  # noqa: ANN001 - framework signature
        self.user = row["user_id"]
        self.n += 1
        if row["event_type"] == self.prev:
            self.cur += 1
        else:
            self.prev = row["event_type"]
            self.cur = 1
        if self.cur > self.best:  # strict: FIRST streak reaching max wins
            self.best = self.cur
            self.best_type = self.prev

    def terminate(self):
        if self.user is not None:
            yield (self.user, self.n, self.best, self.best_type)


@register("udtf_table_arg", sql=_ST_SQL)
def udtf_table_arg(spark: SparkSession, sf: str) -> DataFrame:
    """Polymorphic Python UDTF over a TABLE argument with PARTITION BY /
    ORDER BY (the Spark 4 table-function API): each user's events
    arrive time-ordered at a fresh UDTF instance, which runs the
    imperative single-pass streak scan (longest run of same-type
    events, first-reaching tie-break) that window SQL can only express
    through the islands rewrite — which is exactly what the oracle
    does, proving the two formulations equal.

    DECLARED Python-boundary key (udtf_tokenize's contract): the rows
    cross into Python once, partition-parallel, with state scoped to
    one key — no cross-partition driver state. The user slice
    (% {_ST_USER_MOD}) bounds output; per-user independence makes the
    pre-filter lossless."""
    from pyspark.sql.functions import udtf

    fn = udtf(
        _StreakUDTF,
        returnType="user_id long, n_events long, max_streak long,"
        " streak_type string",
    )
    try:
        spark.udtf.register("spark_graft_streak", fn)
    except Exception:
        pass
    load_events(spark, sf).filter(
        F.col("user_id") % _ST_USER_MOD == 0
    ).select("user_id", "ts", "event_id", "event_type").createOrReplaceTempView(
        "_streak_in"
    )
    return spark.sql(
        "SELECT * FROM spark_graft_streak("
        "TABLE(_streak_in) PARTITION BY user_id ORDER BY (ts, event_id)"
        ") ORDER BY user_id"
    )


# --------------------------------------------------------------------------
# Theil–Sen robust slope (hash-paired, exact quantized medians)
# --------------------------------------------------------------------------

_TS_BUCKETS = 32

_TS_SQL = """
    WITH c AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
             ('0x' || substr(md5('ts:' || CAST(l_orderkey AS VARCHAR) || '-'
                || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS hk,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    rk AS (
      SELECT x, y, (ROW_NUMBER() OVER (ORDER BY hk, l_orderkey, l_linenumber)
                    - 1) // 2 AS pair,
             ROW_NUMBER() OVER (ORDER BY hk, l_orderkey, l_linenumber) AS rn
      FROM c
    ),
    pairs AS (
      SELECT pair,
             MAX(CASE WHEN rn % 2 = 1 THEN x END) AS x1,
             MAX(CASE WHEN rn % 2 = 1 THEN y END) AS y1,
             MAX(CASE WHEN rn % 2 = 0 THEN x END) AS x2,
             MAX(CASE WHEN rn % 2 = 0 THEN y END) AS y2,
             COUNT(*) AS n
      FROM rk GROUP BY pair
    ),
    slopes AS (
      SELECT pair, CAST(ROUND(CAST(y2 - y1 AS DOUBLE)
                              / CAST(x2 - x1 AS DOUBLE) * 1e6) AS BIGINT)
               AS sm
      FROM pairs WHERE n = 2 AND x2 != x1
    ),
    med AS (
      SELECT sm FROM (
        SELECT sm, ROW_NUMBER() OVER (ORDER BY sm, pair) AS r,
               COUNT(*) OVER () AS m
        FROM slopes) WHERE r = (m + 1) // 2
    ),
    resid AS (
      SELECT CAST(ROUND(y - (SELECT sm FROM med) / 1e6 * x) AS BIGINT) AS rc,
             l_orderkey, l_linenumber
      FROM c
    ),
    bmed AS (
      SELECT rc FROM (
        SELECT rc, ROW_NUMBER() OVER (ORDER BY rc, l_orderkey, l_linenumber)
                 AS r,
               COUNT(*) OVER () AS m
        FROM resid) WHERE r = (m + 1) // 2
    )
    SELECT (SELECT COUNT(*) FROM slopes) AS n_pairs,
           (SELECT sm FROM med) / 1e6 AS slope_cents_per_unit,
           (SELECT rc FROM bmed) AS intercept_cents
"""


def _select_kth(df: DataFrame, val_col: str, tie_cols: list, k_of_total):
    """Exact k-th order statistic by (val_col, *tie_cols) via
    DISTRIBUTED SELECTION: bucket counts locate the ONE value-range
    bucket holding position k (driver-side over <= _TS_BUCKETS longs),
    only that bucket sorts — the HDR-exact-twin recipe; the other
    buckets never enter a window.

    ``k_of_total``: position as a function of the relation's row count
    — the count falls out of the bucket histogram for free, so callers
    don't pay a separate full-pass ``.count()`` action (r7 perf pass).
    Returns ``(row, total)``."""
    from pyspark.sql import Window

    lo, hi = df.agg(F.min(val_col), F.max(val_col)).first()
    b = df.withColumn(
        "_bk",
        F.width_bucket(
            F.col(val_col).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi) + 1.0),
            _TS_BUCKETS,
        ),
    )
    counts = {
        r["_bk"]: r["c"]
        for r in b.groupBy("_bk").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = sum(counts.values())
    k = k_of_total(total)
    acc = 0
    for bk in sorted(counts):
        if acc + counts[bk] >= k:
            target, offset = bk, acc
            break
        acc += counts[bk]
    w = Window.orderBy(val_col, *tie_cols)  # one bucket only: bounded
    row = (
        b.filter(F.col("_bk") == target)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == k - offset)
        .select(val_col)
        .first()
    )
    return row, total


def _ranked(
    df: DataFrame,
    val_col: str,
    tie_cols: list,
    out: str,
    bucket_of=None,
    bounds=None,
    counts=None,
) -> DataFrame:
    """Global rank by (val_col, *tie_cols) via the width_bucket
    offset-merge — the repo's standard no-single-reducer total order.

    ``bucket_of``: optional MONOTONE bucket expression over val_col for
    domains known a priori (the 60-bit hash: shiftright(hk, 55) gives
    32 uniform buckets with no min/max probe job — guide §1, one fewer
    pass; the global rank is invariant to bucket boundaries because any
    monotone split keeps offset+within-bucket-rank equal to the global
    rank, and equal keys always share a bucket).

    ``bounds``: optional precomputed (lo, hi) when the caller already
    probed them (rfm fuses its three columns' min/max into ONE
    aggregate — three probe jobs become one).

    ``counts``: optional precomputed {bucket: row count} for the SAME
    bucket_of expression, when the caller already aggregated the
    histogram (rfm fuses its three dimensions' bucket counts into ONE
    exploded aggregate — three count jobs become one); requires
    bucket_of, since the caller can only have counted buckets it
    defined itself."""
    from pyspark.sql import Window

    if bucket_of is None:
        lo, hi = bounds if bounds is not None else df.agg(
            F.min(val_col), F.max(val_col)
        ).first()
        bucket_of = F.width_bucket(
            F.col(val_col).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi) + 1.0),
            _TS_BUCKETS,
        )
    b = df.withColumn("_bk", bucket_of)
    if counts is None:
        counts = {
            r["_bk"]: r["c"]
            for r in b.groupBy("_bk")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    offs, acc = {}, 0
    for k in sorted(counts):
        offs[k] = acc
        acc += counts[k]
    omap = F.create_map(*[F.lit(v) for kv in offs.items() for v in kv])
    w = Window.partitionBy("_bk").orderBy(val_col, *tie_cols)
    return b.withColumn(out, F.row_number().over(w) + omap[F.col("_bk")]).drop(
        "_bk"
    )


@register("agg_theil_sen_slope", sql=_TS_SQL)
def agg_theil_sen_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust regression (median-of-slopes) of price-cents on
    quantity — the outlier-immune slope next to the OLS legs
    (agg_regression, win_rolling_slope) and the MAD/trimmed robust
    stats: up to 29% contamination cannot move it.

    The full estimator is O(n²) pairs; the scalable classic pairs each
    row with ONE partner — here the deterministic md5-order pairing
    (rank in hash order, consecutive rows pair), so both engines build
    the IDENTICAL pair set (under SPARK_GRAFT_FAST_HASH the pairing
    differs — bench-only mode, the seeded-shuffle disclosure). Slopes
    quantize to 1e-6 LONGS and the median is the exact lower median
    selected by global rank; the intercept is the median residual at
    that slope, micro-quantized the same way. All three total orders
    (hash rank, slope median, residual median) ride the width_bucket
    offset-merge — no single-reducer window anywhere at 100 TB."""
    from engine.session import hash60, scratch_cache

    # each _ranked pass probes min/max + bucket counts before its window
    # — cache the slim base relations or lineitem rescans per probe.
    # MEASURED NEGATIVE RESULT (r13): repartitioning the slim projection
    # before the md5 hash (the parallelize_scan recipe — the hash+cache
    # build runs in the scan's 3 tasks, 1.6 s of the key's 6 s) CHANGES
    # THE ANSWER: lineitem carries duplicate (l_orderkey, l_linenumber)
    # rows with different x/y, so the declared (hk, okey, lineno) rank
    # is total only up to those duplicates, and both engines agree on
    # them only via preserved scan order. A keyless repartition reorders
    # exact ties → different pairing → oracle mismatch (reproduced at
    # sf0.01: n_pairs 29444 → 29457). The 3-task hash stage is the
    # price of the declared pairing semantics; left alone.
    c = scratch_cache(
        T(spark, sf, "lineitem").select(
            dround(F.col("l_quantity"), 0).cast("long").alias("x"),
            dround(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
            hash60(
                F.concat(
                    F.lit("ts:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            ).alias("hk"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    rk = _ranked(
        c,
        "hk",
        ["l_orderkey", "l_linenumber"],
        "rn",
        # hk is uniform on [0, 2^60): fixed monotone bucketing, no
        # min/max probe pass (see _ranked)
        bucket_of=F.shiftright("hk", 55) + F.lit(1),
    )
    pairs = (
        rk.select(
            ((F.col("rn") - 1) - ((F.col("rn") - 1) % 2)).alias("pair2"),
            "rn",
            "x",
            "y",
        )
        .groupBy("pair2")
        .agg(
            F.max(F.when(F.col("rn") % 2 == 1, F.col("x"))).alias("x1"),
            F.max(F.when(F.col("rn") % 2 == 1, F.col("y"))).alias("y1"),
            F.max(F.when(F.col("rn") % 2 == 0, F.col("x"))).alias("x2"),
            F.max(F.when(F.col("rn") % 2 == 0, F.col("y"))).alias("y2"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("n") == 2) & (F.col("x2") != F.col("x1")))
    )
    slopes = pairs.select(
        F.col("pair2").alias("pair"),
        dround(
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
            * 1e6,
            0,
        )
        .cast("long")
        .alias("sm"),
    )
    slopes = scratch_cache(slopes)
    med = lambda t: (t + 1) // 2  # noqa: E731 — exact lower median
    sm_row, m = _select_kth(slopes, "sm", ["pair"], med)
    sm = sm_row["sm"]
    resid = scratch_cache(
        c.select(
            dround(F.col("y") - F.lit(sm) / 1e6 * F.col("x"), 0)
            .cast("long")
            .alias("rc"),
            "l_orderkey",
            "l_linenumber",
        )
    )
    b, _ = _select_kth(resid, "rc", ["l_orderkey", "l_linenumber"], med)
    return tiny_df(
        spark,
        [(int(m), sm / 1e6, int(b["rc"]))],
        "n_pairs long, slope_cents_per_unit double, intercept_cents long",
    )


# --------------------------------------------------------------------------
# Deterministic random walks (DeepWalk/node2vec sampling substrate)
# --------------------------------------------------------------------------

_RW_STEPS = 5
_RW_START_MOD = 13


def _rw_oracle_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    h = (
        "('0x' || substr(md5('rw:' || CAST(w.walk_id AS VARCHAR) || ':' "
        "|| '{step}' || ':' || CAST(w.node AS VARCHAR)), 1, 15))::BIGINT"
    )
    ctes = [
        f"e AS ({EVENTS_US_SQL})",
        AFFINITY_EDGES_CTE.strip().rstrip(),
        """adj AS MATERIALIZED (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
             COUNT(*) OVER (PARTITION BY src) AS deg
      FROM (SELECT DISTINCT src, dst FROM edges)
    )""",
        f"""w0 AS MATERIALIZED (
      SELECT DISTINCT src AS walk_id, src AS node, CAST(src AS BIGINT) AS ck
      FROM adj WHERE src % {_RW_START_MOD} = 0
    )""",
    ]
    for i in range(1, _RW_STEPS + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
      SELECT w.walk_id, a.dst AS node, w.ck + {i + 1} * a.dst AS ck
      FROM w{i - 1} w
      JOIN adj a ON a.src = w.node
       AND a.idx = {h.format(step=i)} % (SELECT deg FROM adj d
                                         WHERE d.src = w.node AND d.idx = 0)
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT walk_id, node AS final_node, CAST(ck AS BIGINT) AS path_checksum
    FROM w{_RW_STEPS} ORDER BY walk_id"""
    )


@register("graph_random_walk_deterministic", sql=_rw_oracle_sql)
def graph_random_walk_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic random walks over the affinity graph — the
    DeepWalk/node2vec SAMPLING substrate a graph-embedding pipeline
    runs at corpus scale, made reproducible by construction: at step s
    the walk at node v hops to neighbor index
    md5('rw:'‖walk‖':'‖s‖':'‖v) mod deg(v) in the (src, dst)-ordered
    adjacency — no RNG state, any engine replays the identical walks
    (under SPARK_GRAFT_FAST_HASH the walks differ — bench-only mode,
    the seeded-shuffle disclosure). The ring multigraph has outdegree
    ≥ 1 at every member, so {_RW_STEPS}-step walks never strand.

    Per-walk output: final node + Σ (s+1)·node_s over the path — the
    checksum pins EVERY hop, not just the endpoint. Plan shape: the
    indexed adjacency builds once (per-src window, hash-partitioned);
    each step is one broadcast join of the walk frontier (corpus/13
    rows) against the node-keyed adjacency — frontier-sized traffic
    per step, the classic BSP walk."""
    from engine.analytics import materialize_affinity_edges
    from engine.session import hash60, scratch_cache

    edges = materialize_affinity_edges(spark, sf)
    from pyspark.sql import Window

    w_src = Window.partitionBy("src").orderBy("dst")
    adj = scratch_cache(
        edges.select("src", "dst")
        .distinct()
        .select(
            "src",
            "dst",
            (F.row_number().over(w_src) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
    )
    deg = adj.filter(F.col("idx") == 0).select("src", "deg")
    walks = (
        adj.filter(F.col("src") % _RW_START_MOD == 0)
        .select("src")
        .distinct()
        .select(
            F.col("src").alias("walk_id"),
            F.col("src").alias("node"),
            F.col("src").cast("long").alias("ck"),
        )
    )
    for i in range(1, _RW_STEPS + 1):
        hop = hash60(
            F.concat(
                F.lit("rw:"),
                F.col("walk_id").cast("string"),
                F.lit(f":{i}:"),
                F.col("node").cast("string"),
            )
        )
        walks = (
            walks.join(deg.withColumnRenamed("src", "node"), "node")
            .withColumn("idx", hop % F.col("deg"))
            .join(
                adj.select(F.col("src").alias("node"), "idx", "dst"),
                ["node", "idx"],
            )
            .select(
                "walk_id",
                F.col("dst").alias("node"),
                (F.col("ck") + (i + 1) * F.col("dst")).alias("ck"),
            )
        )
    return walks.select(
        "walk_id",
        F.col("node").alias("final_node"),
        F.col("ck").cast("long").alias("path_checksum"),
    ).orderBy("walk_id")


# --------------------------------------------------------------------------
# Allocation waterfall (capacity-constrained sequential fill per part)
# --------------------------------------------------------------------------

_AW_CAP_PER_SIZE = 40

_AW_SQL = f"""
    WITH d AS (
      SELECT l.l_partkey, p.p_brand,
             CAST(p.p_size * {_AW_CAP_PER_SIZE} AS BIGINT) AS cap,
             CAST(ROUND(l.l_quantity) AS BIGINT) AS qty,
             SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) OVER (
               PARTITION BY l.l_partkey
               ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber
               ROWS UNBOUNDED PRECEDING) - CAST(ROUND(l.l_quantity) AS BIGINT)
               AS cum_before
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    a AS (
      SELECT p_brand, qty,
             GREATEST(0, LEAST(qty, cap - cum_before)) AS alloc
      FROM d
    )
    SELECT p_brand,
           CAST(SUM(qty) AS BIGINT) AS demand_qty,
           CAST(SUM(alloc) AS BIGINT) AS allocated_qty,
           COUNT(*) FILTER (WHERE alloc < qty) AS n_short_lines
    FROM a GROUP BY 1 ORDER BY 1
"""


@register("win_allocation_waterfall", sql=_AW_SQL)
def win_allocation_waterfall(spark: SparkSession, sf: str) -> DataFrame:
    """Capacity-constrained sequential allocation (the inventory
    waterfall): each part has capacity p_size·{_AW_CAP_PER_SIZE} units,
    demand lines consume it in ship-date order, and a line receives
    min(qty, remaining) — the classic ordered-allocation op (ad
    budgets, stock, quota) that LOOKS iterative but is exactly one
    running-sum window: alloc = clamp(cap − cumsum_before, 0, qty).

    Per-brand rollup reports demand vs allocated and short lines. All
    integer units; the window partitions by partkey (hash-parallel —
    allocation state never crosses parts, so 100 TB scales by key);
    the part capacity joins in brand+size only (slim columns)."""
    li = T(spark, sf, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        dround(F.col("l_quantity"), 0).cast("long").alias("qty"),
    )
    p = T(spark, sf, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        "p_brand",
        (F.col("p_size") * _AW_CAP_PER_SIZE).cast("long").alias("cap"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    d = (
        li.join(p, "l_partkey")
        .withColumn("cum_before", F.sum("qty").over(w) - F.col("qty"))
        .withColumn(
            "alloc",
            F.greatest(
                F.lit(0), F.least(F.col("qty"), F.col("cap") - F.col("cum_before"))
            ),
        )
    )
    return (
        d.groupBy("p_brand")
        .agg(
            F.sum("qty").alias("demand_qty"),
            F.sum("alloc").alias("allocated_qty"),
            F.count(F.when(F.col("alloc") < F.col("qty"), 1)).alias(
                "n_short_lines"
            ),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Banded cohort graph (round 9): the scale-safe twin of the clique keys
# --------------------------------------------------------------------------

#: fan-out cap of the banded cohort graph: each cohort member connects to
#: its next _BAND neighbors in (first_ts, user_id) order, so per-cohort
#: edges are <= _BAND * n instead of the clique's n*(n-1)/2. The r9 sf1x
#: blow-up (SCALE.md) measured the clique construction densifying 105.8x
#: for 10x users/day; this construction grows linearly by design.
_BAND = 8


def _banded_cohort_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected (u < v) edge set of the BANDED cohort graph.

    Same cohorts as graph_triangles / graph_ktruss_peel (>= 3 events per
    (event_type, day)), but edges connect only members within _BAND
    positions in the cohort's deterministic (first_ts, user_id) order —
    the capped construction the clique keys' SCALE.md entry prescribes
    for 100 TB. The band join is an EXPLODE + EQUI-join on (cohort,
    position): the a-side fans out its _BAND target positions, so the
    plan never materializes the quadratic cohort self-join that a range
    predicate on a plain cohort join would (join first, filter later).
    Max degree is 2*_BAND, which bounds every downstream triangle/wedge
    enumeration per vertex by a constant."""
    from pyspark.sql import Window

    ev = T(spark, sf, "events")
    cohort = (
        ev.select(
            "event_type", F.date_trunc("day", "ts").alias("day"), "user_id", "ts"
        )
        .groupBy("event_type", "day", "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"), F.min("ts").alias("first_ts"))
        .filter(F.col("n_ev") >= 3)
    )
    w = Window.partitionBy("event_type", "day").orderBy("first_ts", "user_id")
    pos = cohort.select(
        "event_type", "day", "user_id", F.row_number().over(w).alias("pos")
    )
    a = (
        pos.select("event_type", "day", F.col("user_id").alias("ua"), "pos")
        .withColumn("d", F.explode(F.sequence(F.lit(1), F.lit(_BAND))))
        .select("event_type", "day", "ua", (F.col("pos") + F.col("d")).alias("pos_b"))
    )
    b = pos.select(
        "event_type", "day", F.col("user_id").alias("ub"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, ["event_type", "day", "pos_b"])
        .select(
            F.least("ua", "ub").alias("u"), F.greatest("ua", "ub").alias("v")
        )
        .distinct()
    )


_BANDED_E0_CTE = f"""
    cohort AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS day, user_id,
             MIN(ts) AS first_ts
      FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
    ),
    bpos AS MATERIALIZED (
      SELECT event_type, day, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY first_ts, user_id) AS pos
      FROM cohort
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(a.user_id, b.user_id) AS u,
                      GREATEST(a.user_id, b.user_id) AS v
      FROM bpos a JOIN bpos b
        ON a.event_type = b.event_type AND a.day = b.day
       AND b.pos BETWEEN a.pos + 1 AND a.pos + {_BAND}
    )"""

_TRIANGLES_BANDED_SQL = (
    "WITH "
    + _BANDED_E0_CTE
    + """,
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u
      JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS user_id FROM tri)
    GROUP BY user_id
"""
)


@register("graph_triangles_banded", sql=_TRIANGLES_BANDED_SQL)
def graph_triangles_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user triangle participation over the BANDED cohort graph —
    the scale-safe twin of graph_triangles (the r7 banded-twin pattern:
    agg_ks_banded / agg_mwu_banded). The r9 10x blow-up measured the
    clique construction at 105.8x edges for 10x users (27x wall for the
    triangle count, 57.8x for the k-truss peel); the banded graph's
    edges grow LINEARLY and its max degree is 2*_BAND, so the textbook
    three-way edge self-join is already arboricity-bounded per vertex —
    no compact-forward orientation needed. Triangles here are cohort-
    local cliques among temporally adjacent members, the structure a
    community-detection pass actually wants at 100 TB."""
    e = _banded_cohort_edges(spark, sf)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("user_id")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _ktruss_banded_oracle_sql() -> str:
    ctes = ["\n" + _BANDED_E0_CTE]
    for i in range(_KT_ROUNDS):
        ctes.append(
            f"""
    tri{i} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e{i} e1 JOIN e{i} e2 ON e2.u = e1.v
      JOIN e{i} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    sup{i} AS MATERIALIZED (
      SELECT u, v, COUNT(*) AS sup FROM (
        SELECT a AS u, b AS v FROM tri{i}
        UNION ALL SELECT b AS u, c AS v FROM tri{i}
        UNION ALL SELECT a AS u, c AS v FROM tri{i}) _t
      GROUP BY 1, 2
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      JOIN sup{i} s ON s.u = e.u AND s.v = e.v
      WHERE s.sup >= {_KT_K - 2}
    )"""
        )
    rounds = "\n      UNION ALL ".join(
        f"""SELECT {i + 1} AS round,
             (SELECT COUNT(*) FROM e{i}) AS n_edges_before,
             (SELECT COUNT(*) FROM e{i + 1}) AS n_edges_after,
             (SELECT COALESCE(CAST(SUM(u * {_KT_CHECK_MULT} + v) AS BIGINT), 0)
              FROM e{i + 1}) AS checksum_after"""
        for i in range(_KT_ROUNDS)
    )
    return (
        "WITH " + ",".join(ctes) + "\n    " + rounds + "\n    ORDER BY round"
    )


@register("graph_ktruss_banded", sql=_ktruss_banded_oracle_sql)
def graph_ktruss_banded(spark: SparkSession, sf: str) -> DataFrame:
    """k-truss peel (same k={_KT_K}, {_KT_ROUNDS} rounds, same trajectory
    output as graph_ktruss_peel) over the BANDED cohort graph — the
    construction-capped twin the r9 sf1x measurement prescribed: the
    clique input grows quadratically in cohort size (105.8x edges at the
    10x blow-up), the banded input linearly, so the identical peel loop
    keeps its per-round join+agg cost proportional to the data. Peel
    mechanics match graph_ktruss_peel line for line (triangle
    enumeration on the ordered edge set, partial-aggregable support
    count, left-semi survivor filter, eager localCheckpoint per round);
    only the edge construction differs."""
    edges = _banded_cohort_edges(spark, sf).localCheckpoint(eager=True)
    traj = []
    # n_before of round r+1 IS round r's surviving count — carried from
    # the previous agg instead of a fresh full-pass count() (guide §1:
    # don't recompute what the last action returned); the checkpoint is
    # LAZY so the trajectory agg is the action that materializes it
    # (one pass per round, not two — the k-core pattern)
    n_before = edges.count()
    for rnd in range(1, _KT_ROUNDS + 1):
        e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
        e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"])
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= _KT_K - 2)
            .select("u", "v")
        )
        edges = edges.join(sup, ["u", "v"], "left_semi").localCheckpoint(
            eager=False
        )
        after = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col("u") * _KT_CHECK_MULT + F.col("v")), F.lit(0)
            ).alias("ck"),
        ).first()
        traj.append((rnd, n_before, after["n"], after["ck"]))
        n_before = after["n"]
    return tiny_df(
        spark,
        traj,
        "round int, n_edges_before long, n_edges_after long, checksum_after long",
    ).orderBy("round")
