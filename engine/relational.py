"""Relational operator inventory (SURVEY.md §2 Table B).

Scans/sinks, filters/projections, the full join family, aggregation
(incl. rollup/cube/grouping sets, median/mode, pivot), window functions,
sorts/top-k, and set operations — every key here ships a Spark query and
(where SQL-expressible) a DuckDB oracle with IDENTICAL column names.

Reference parity: these generalize the dataflow ops the course handout
exercises (SURVEY.md §2 Table A; canonical paths
wikipedia/src/main/scala/wikipedia/WikipediaRanking.scala,
stackoverflow/src/main/scala/stackoverflow/StackOverflow.scala,
timeusage/src/main/scala/timeusage/TimeUsage.scala — checkout empty at
build time, see SURVEY.md §0).

Float policy (SURVEY.md §7.3): every computed double aggregate is rounded
identically on both sides so the driver's value-hash is stable across
engines; raw stored doubles pass through unrounded (same parquet bits on
both sides).

Scale notes are inline per operator: broadcast hints for dimension
tables, partial aggregation via Catalyst HashAggregate, window partition
keys chosen to distribute (user_id/custkey, never a global partition
except where semantics demand one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from engine.canon import (
    dround,
    floordiv_sql,
    joined,
    portable_try_int,
    portable_try_int_sql,
)
from engine.registry import register
from engine.session import (
    EVENTS_US_SQL,
    T,
    artifact,
    artifact_path,
    data_fingerprint,
    scratch_dir,
    session_confs,
    sf_tag,
    tiny_df,
)

# --------------------------------------------------------------------------
# Scans / sources / sinks
# --------------------------------------------------------------------------


@register(
    "scan_project",
    sql="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def scan_project(spark: SparkSession, sf: str) -> DataFrame:
    """Projection pushdown: the parquet scan must read only 5 of 11
    columns (verify via explain → ReadSchema)."""
    return T(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )


@register(
    "scan_csv_roundtrip",
    sql="""
    SELECT l_returnflag, COUNT(*) AS cnt,
           ROUND(SUM(l_quantity) * 100) / 100 AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """A22 capability port (TimeUsage.scala `read`/`dfSchema` [H]): write a
    CSV with header, re-read with an explicit StructType (no inference —
    schema inference would be a second full pass at 100 TB), aggregate.

    Oracled against the SOURCE table: the CSV writer emits shortest
    round-trip double reprs, so write→read is value-lossless and the
    aggregate must equal the same SQL over the original lineitem —
    which is exactly what makes it a correctness check of the CSV path.
    """
    out = scratch_dir("csv_roundtrip")
    cols = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_shipdate",
    ]
    li = T(spark, sf, "lineitem").select(*cols).filter(F.col("l_orderkey") % 10 == 0)
    li.write.mode("overwrite").option("header", True).csv(out)
    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    )
    back = spark.read.csv(out, schema=schema, header=True)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "scan_json_lines",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2
    FROM events
    """,
)
def scan_json_lines(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-in-string parsing two ways: path extraction and schema'd
    from_json (A3/A4 capability — custom line parse)."""
    ev = T(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.from_json("props", "k LONG").getField("k").alias("k2"),
    )


@register(
    "sink_parquet_partitioned",
    sql="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice) * 100) / 100 AS sum_price
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned parquet sink + re-read with partition pruning. At scale
    the write distributes by the partition column; the re-read filter
    prunes to a single directory (explain → PartitionFilters).

    Oracled against the source table: parquet round-trips every value
    exactly and the partition-key filter commutes with the group-by, so
    the re-read aggregate must equal the direct SQL — turning the sink
    into a checked operator instead of a rows-only smoke test.
    """
    out = scratch_dir("sink_partitioned")
    agg = (
        T(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    agg.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(F.col("l_returnflag").isin("A", "R")).select(
        "l_returnflag", "l_linestatus", "cnt", "sum_price"
    )


# --------------------------------------------------------------------------
# Projection / filter / predicates
# --------------------------------------------------------------------------


@register(
    "filter_simple",
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.06
    """,
)
def filter_simple(spark: SparkSession, sf: str) -> DataFrame:
    """A6 port. Both predicates must appear in PushedFilters."""
    li = T(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & F.col("l_discount").between(0.02, 0.06)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "filter_in_like_null",
    sql="""
    SELECT p_partkey, p_name, p_brand, p_type
    FROM part
    WHERE p_type IN ('PROMO', 'ECONOMY')
      AND p_name LIKE '%ol%'
      AND p_brand IS NOT NULL
    """,
)
def filter_in_like_null(spark: SparkSession, sf: str) -> DataFrame:
    p = T(spark, sf, "part")
    return p.filter(
        F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_name").like("%ol%")
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_type")


@register(
    "project_arith",
    sql="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 2) AS disc_price,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge,
           ROUND(l_extendedprice / l_quantity, 2) AS unit_price
    FROM lineitem
    """,
)
def project_arith(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dround(disc, 2).alias("disc_price"),
        dround(disc * (1 + F.col("l_tax")), 2).alias("charge"),
        dround(F.col("l_extendedprice") / F.col("l_quantity"), 2).alias("unit_price"),
    )


@register(
    "project_conditional",
    sql="""
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                ELSE 'other' END AS status_word,
           COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'none') AS prio,
           ROUND(GREATEST(o_totalprice, 250000.0), 2) AS gp,
           ROUND(LEAST(o_totalprice, 250000.0), 2) AS lp
    FROM orders
    """,
)
def project_conditional(spark: SparkSession, sf: str) -> DataFrame:
    """A24 port (TimeUsage.scala `timeUsageSummary` when/otherwise [H])."""
    o = T(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("other")
        .alias("status_word"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")), F.lit("none")
        ).alias("prio"),
        dround(F.greatest("o_totalprice", F.lit(250000.0)), 2).alias("gp"),
        dround(F.least("o_totalprice", F.lit(250000.0)), 2).alias("lp"),
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "join_inner_equi",
    sql="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf: str) -> DataFrame:
    """A12 port (StackOverflow.scala `groupedPostings` join [H]). Shuffled
    hash/sort-merge on the key at scale; AQE picks the strategy."""
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@register(
    "join_broadcast",
    sql="""
    SELECT p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit broadcast of the dimension side: no shuffle of the 100 TB
    fact table, map-side hash join (explain → BroadcastHashJoin)."""
    li = T(spark, sf, "lineitem")
    p = F.broadcast(T(spark, sf, "part"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "join_star_5way",
    sql="""
    SELECT r_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS cnt
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    GROUP BY r_name, n_name
    """,
)
def join_star_5way(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: dims broadcast, single shuffle for the final groupBy.
    The fact table never shuffles for the joins themselves."""
    r = F.broadcast(T(spark, sf, "region"))
    n = F.broadcast(T(spark, sf, "nation"))
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("cnt"),
        )
    )


_BIG_ORDERS_SQL = "SELECT * FROM orders WHERE o_totalprice > 450000.0"


def _big_orders(spark: SparkSession, sf: str) -> DataFrame:
    # ~top decile of orders → a third of customers have no match,
    # making the outer/semi/anti joins meaningful
    return T(spark, sf, "orders").filter(F.col("o_totalprice") > 450000.0)


@register(
    "join_left",
    sql=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN ({_BIG_ORDERS_SQL}) o ON o_custkey = c_custkey
    """,
)
def join_left(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    o = _big_orders(spark, sf)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right",
    sql=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM ({_BIG_ORDERS_SQL}) o RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    o = _big_orders(spark, sf)
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full",
    sql=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal < 0) c
    FULL JOIN ({_BIG_ORDERS_SQL}) o ON o_custkey = c_custkey
    """,
)
def join_full(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer").filter(F.col("c_acctbal") < 0)
    o = _big_orders(spark, sf)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_semi",
    sql=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM ({_BIG_ORDERS_SQL}) o WHERE o_custkey = c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    o = _big_orders(spark, sf)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    sql=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM ({_BIG_ORDERS_SQL}) o WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    o = _big_orders(spark, sf)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    sql="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    return (
        T(spark, sf, "region")
        .crossJoin(F.broadcast(T(spark, sf, "nation")))
        .select("r_name", "n_name")
    )


@register(
    "join_theta_range",
    sql="""
    SELECT l_orderkey, l_linenumber, p_partkey,
           ROUND(l_extendedprice / l_quantity - p_retailprice, 2) AS unit_margin
    FROM lineitem JOIN part
      ON l_partkey = p_partkey
     AND l_extendedprice / l_quantity > p_retailprice
    """,
)
def join_theta_range(spark: SparkSession, sf: str) -> DataFrame:
    """Equi key + residual theta predicate: Spark plans the equi part as
    the join key and evaluates the inequality as a post-join filter —
    stays a hash join, never a cartesian."""
    li = T(spark, sf, "lineitem")
    p = F.broadcast(T(spark, sf, "part"))
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    return li.join(
        p, (li.l_partkey == p.p_partkey) & (unit > p.p_retailprice)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "p_partkey",
        dround(unit - F.col("p_retailprice"), 2).alias("unit_margin"),
    )


@register(
    "join_range_interval",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def join_range_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Band join: the user_id equality is the shuffle key, the time band a
    residual — distributes by user at scale (no global interval join)."""
    e = T(spark, sf, "events")
    a = e.filter(F.col("event_type") == "view").alias("a")
    b = e.filter(F.col("event_type") == "purchase").alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        F.col("a.event_id").alias("view_id"),
        F.col("b.event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        (
            F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))
        ).alias("gap_us"),
    )


@register(
    "join_asof",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL}),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           (SELECT v.event_id FROM v
             WHERE v.user_id = p.user_id AND v.ts <= p.ts
             ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_id
    FROM p
    """,
)
def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (Spark has no ASOF join type — SURVEY.md §4.2): union the
    two sides, one window pass per user carries the latest view forward.
    O(n log n) per user partition, no n² correlated scan — this is the
    100 TB-safe formulation. Tie order: a view at the exact purchase
    timestamp counts as prior (kind 0 sorts before kind 1)."""
    e = T(spark, sf, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("vid"),
        F.lit(None).cast("long").alias("pid"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("vid"),
        F.col("event_id").alias("pid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("vid", "pid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        v.unionByName(p)
        .withColumn("view_id", F.last("vid", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            F.col("pid").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("purchase_ts_us"),
            "view_id",
        )
    )


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------


@register(
    "agg_global",
    sql="""
    SELECT COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf: str) -> DataFrame:
    """A5 port (rdd.aggregate): Catalyst plans partial+final HashAggregate
    automatically — the map-side combine the course teaches by hand."""
    li = T(spark, sf, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
        dround(F.min("l_extendedprice"), 2).alias("min_price"),
        dround(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_groupby_q1",
    sql="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_q1(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship — TPC-H Q1 shape. Scan reads 7/11 columns with the
    ship-date filter pushed to parquet row-group stats; two-phase
    HashAggregate; tiny result."""
    li = T(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            dround(F.sum(disc_price), 2).alias("sum_disc_price"),
            dround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            dround(F.avg("l_quantity"), 2).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), 2).alias("avg_price"),
            dround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_having",
    sql="""
    SELECT l_partkey, ROUND(SUM(l_extendedprice), 2) AS total, COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_partkey
    HAVING ROUND(SUM(l_extendedprice) * 100) / 100 > 100000.0
    """,
)
def agg_having(spark: SparkSession, sf: str) -> DataFrame:
    """HAVING compares the CANONICALIZED sum on both engines: raw double
    sums are accumulation-order dependent (Spark's partial aggregation
    vs DuckDB's sequential sum can differ by ulps), so a group straddling
    the threshold could otherwise pass on one engine only."""
    li = T(spark, sf, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            dround(F.sum("l_extendedprice"), 2).alias("total"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("total") > 100000.0)
    )


@register(
    "agg_distinct",
    sql="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"), F.count("*").alias("n")
    )


@register(
    "agg_approx_distinct",
    # Exact-twin oracle (r4, was rows-only): the exact count is
    # hash-checked value-for-value; the HLL++ estimate itself is
    # engine-specific, so what crosses the comparison surface is the
    # Spark-side ERROR-BOUND check (|approx-exact|/exact ≤ 15% = 3σ at
    # the default rsd 0.05 — a tighter rsd doubles the sketch cost for
    # no extra verification power) which the oracle pins to TRUE — a
    # broken sketch flips the boolean and hash-mismatches.
    # Deterministic: HLL hashing has no RNG, same data → same estimate.
    sql="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Sketch-based — the 100 TB
    path for distinct counts; exact distinct shuffles every key."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.col("exact_users") * 0.15, F.lit(10.0))
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_stats",
    sql="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qe,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) + 0.0 AS cov_qe
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem")

    # NaN→NULL on degenerate groups (single row / zero variance):
    # DuckDB's sample stats yield NULL there, Spark NaN — the
    # agg_corr_matrix lesson applied to the whole moment family.
    # signed: the sign-carrying moments (corr/cov) also get the
    # `+ 0.0` -0.0 normalization on BOTH sides (the agg_regression
    # signed-zero lesson — stddev/var are ≥ 0 and can't produce -0.0).
    def stat(c, places, alias, signed=False):
        r = dround(c, places)
        if signed:
            r = r + F.lit(0.0)
        return (
            F.when(F.isnan(c), F.lit(None).cast("double"))
            .otherwise(r)
            .alias(alias)
        )

    return li.groupBy("l_returnflag").agg(
        stat(F.stddev_samp("l_quantity"), 4, "sd_qty"),
        stat(F.var_samp("l_quantity"), 4, "var_qty"),
        stat(F.corr("l_quantity", "l_extendedprice"), 6, "corr_qe", signed=True),
        stat(
            F.covar_samp("l_quantity", "l_extendedprice"), 2, "cov_qe", signed=True
        ),
    )


@register(
    "agg_median_mode",
    sql="""
    WITH med AS (
      SELECT l_returnflag, ROUND(MEDIAN(l_quantity), 2) AS med_qty
      FROM lineitem GROUP BY l_returnflag
    ),
    cnt AS (
      SELECT l_returnflag, l_quantity AS mode_qty,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT med.l_returnflag, med.med_qty, cnt.mode_qty
    FROM med JOIN cnt ON med.l_returnflag = cnt.l_returnflag AND cnt.rn = 1
    """,
)
def agg_median_mode(spark: SparkSession, sf: str) -> DataFrame:
    """A20/A21 port (StackOverflow.scala `clusterResults` median + dominant
    value [H]). Mode computed deterministically (ties → smallest value)
    via count + row_number rather than F.mode, whose tie-break is
    unspecified — the same choice both engines can reproduce."""
    li = T(spark, sf, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        dround(F.median("l_quantity"), 2).alias("med_qty")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity").asc()
    )
    mode = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    return med.join(mode, "l_returnflag").select(
        "l_returnflag", "med_qty", "mode_qty"
    )


@register(
    "agg_collect_sorted",
    sql="""
    SELECT l_orderkey,
           STRING_AGG(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """A9 port (groupByKey materializing per-key values) — made
    deterministic with sort_array. Bounded per group (≤7 lineitems/order)
    so safe at scale; unbounded collect_list would not be. Output joined
    to a scalar string (driver canonicalizer rejects array columns)."""
    li = T(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        joined(F.sort_array(F.collect_list("l_linenumber"))).alias("lines")
    )


@register(
    "agg_rollup",
    sql="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    li = T(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
    )


@register(
    "agg_cube",
    sql="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        dround(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.grouping("o_orderpriority").cast("int").alias("g_pr"),
    )


@register(
    "agg_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """A28-style SQL-string execution (TimeUsage.scala
    `timeUsageGroupedSql` [H]): temp view + spark.sql."""
    T(spark, sf, "orders").createOrReplaceTempView("orders_gs_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
        FROM orders_gs_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_PIVOT_TYPES = ["view", "click", "purchase", "signup", "error"]


@register(
    "agg_pivot",
    sql="""
    SELECT user_id,
           ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
           ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
           ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 2) AS error
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with an explicit value list — without it Spark runs an extra
    distinct job to discover values (a full scan at 100 TB)."""
    ev = T(spark, sf, "events")
    return ev.groupBy("user_id").pivot("event_type", _PIVOT_TYPES).agg(
        dround(F.sum("value"), 2)
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "win_rank_dense_rownum",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
    """,
)
def win_rank_dense_rownum(spark: SparkSession, sf: str) -> DataFrame:
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    w_det = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w_det).alias("rn"),
    )


@register(
    "win_topk_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group: Spark rewrites rank-filter windows into a
    per-partition top-k (WindowGroupLimit) — no full sort per group."""
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "win_running_sum",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
    FROM e
    """,
)
def win_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    ev = T(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", dround(F.sum("value").over(w), 2).alias("run_sum")
    )


@register(
    "win_range_frame",
    sql=f"""
    WITH e AS (SELECT *, epoch_us(ts) // 1000000 AS secs
               FROM ({EVENTS_US_SQL}))
    SELECT event_id, user_id, secs,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY secs
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 2) AS hour_sum
    FROM e
    """,
)
def win_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frame over epoch seconds: sliding 1-hour sum per user."""
    ev = T(spark, sf, "events").withColumn(
        "secs", floordiv_sql("unix_micros(ts)", 1000000)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("secs")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "secs",
        dround(F.sum("value").over(w), 2).alias("hour_sum"),
    )


@register(
    "win_lead_lag",
    sql=f"""
    WITH e AS (SELECT *, epoch_us(ts) // 1000000 AS secs
               FROM ({EVENTS_US_SQL}))
    SELECT event_id, user_id,
           secs - LAG(secs) OVER w AS gap_s,
           LEAD(secs) OVER w - secs AS next_gap_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lead_lag(spark: SparkSession, sf: str) -> DataFrame:
    """A-table lineage: per-key neighbor access — inter-event gaps."""
    ev = T(spark, sf, "events").withColumn(
        "secs", floordiv_sql("unix_micros(ts)", 1000000)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("secs") - F.lag("secs").over(w)).alias("gap_s"),
        (F.lead("secs").over(w) - F.col("secs")).alias("next_gap_s"),
    )


@register(
    "win_ntile_pctrank",
    sql="""
    SELECT o_orderkey,
           NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS tile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice), 6) AS pr,
           ROUND(CUME_DIST() OVER (ORDER BY o_totalprice), 6) AS cd
    FROM orders
    """,
)
def win_ntile_pctrank(spark: SparkSession, sf: str) -> DataFrame:
    """Global-order analytics. NOTE: an unpartitioned window is a single-
    reducer sort — acceptable for ranked exports, not for 100 TB facts
    (there you'd bucket by range first)."""
    o = T(spark, sf, "orders")
    w_det = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w_price = Window.orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w_det).alias("tile"),
        dround(F.percent_rank().over(w_price), 6).alias("pr"),
        dround(F.cume_dist().over(w_price), 6).alias("cd"),
    )


_PCTRANK_BUCKETED_SQL = """
    SELECT o_orderkey, o_totalprice,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice) * 1e6) / 1e6 AS pr
    FROM orders
"""


@register("win_pctrank_bucketed", sql=_PCTRANK_BUCKETED_SQL)
def win_pctrank_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank WITHOUT the single-reducer global sort (the scale
    path for win_ntile_pctrank's documented weakness): value-range
    bucketing + offset merge.

    1. width_bucket(value) assigns each row a range bucket — equal
       values always share a bucket, so rank-tie semantics survive.
    2. Per-bucket rank() windows run in parallel (partitionBy bucket).
    3. Bucket row-counts (B tiny rows) collect to the driver; the
       cumulative offsets re-enter the plan as a broadcast map.
    4. global rank = local rank + offset[bucket];
       percent_rank = (rank-1)/(n-1).

    The oracle is the PLAIN single-window PERCENT_RANK — proving the
    decomposition exact, not approximate. At 100 TB, step 3 moves B
    longs through the driver; everything else is hash-partition
    parallel. (The same offset-merge shape generalizes to ntile and
    cume_dist.)"""
    o = T(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    lo, hi, n = o.agg(
        F.min("o_totalprice"), F.max("o_totalprice"), F.count("*")
    ).first()
    n_buckets = 32
    # upper bound nudged: width_bucket puts value == hi into bucket B+1
    b = F.width_bucket(
        F.col("o_totalprice"), F.lit(float(lo)), F.lit(float(hi) + 1.0), n_buckets
    ).alias("bucket")
    bucketed = o.select("o_orderkey", "o_totalprice", b)
    counts = {
        r["bucket"]: r["cnt"]
        for r in bucketed.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w_local = Window.partitionBy("bucket").orderBy("o_totalprice")
    return bucketed.select(
        "o_orderkey",
        "o_totalprice",
        dround(
            (F.rank().over(w_local) + off_map[F.col("bucket")] - 1)
            / F.lit(float(n - 1)),
            6,
        ).alias("pr"),
    )


@register(
    "win_first_last",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_id, user_id,
           FIRST_VALUE(value) OVER w AS first_val,
           LAST_VALUE(value) OVER w AS last_val
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf: str) -> DataFrame:
    ev = T(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
    )


# --------------------------------------------------------------------------
# Sort / limit / top-k
# --------------------------------------------------------------------------


@register(
    "sort_multi_nulls",
    sql="""
    SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status, o_totalprice
    FROM orders
    ORDER BY status ASC NULLS LAST, o_totalprice DESC, o_orderkey
    """,
)
def sort_multi_nulls(spark: SparkSession, sf: str) -> DataFrame:
    """A13 port (rdd.sortBy desc): multi-key global sort with explicit
    null placement. Spark range-partitions the sort at scale."""
    o = T(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
        "o_totalprice",
    ).orderBy(
        F.col("status").asc_nulls_last(), F.col("o_totalprice").desc(), "o_orderkey"
    )


@register(
    "topk_global",
    sql="""
    SELECT l_orderkey, revenue FROM (
      SELECT l_orderkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_orderkey) t
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf: str) -> DataFrame:
    """orderBy().limit() plans as TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver; never a global sort. Sort key
    is the *rounded* revenue so both engines rank identical values."""
    li = T(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

_SET_A_SQL = "SELECT o_orderkey AS key FROM orders WHERE o_totalprice > 400000.0"
_SET_B_SQL = (
    "SELECT o_orderkey AS key FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'"
)


def _set_a(spark: SparkSession, sf: str) -> DataFrame:
    return (
        T(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_orderkey").alias("key"))
    )


def _set_b(spark: SparkSession, sf: str) -> DataFrame:
    return (
        T(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_orderkey").alias("key"))
    )


@register("set_union_all", sql=f"{_SET_A_SQL} UNION ALL {_SET_B_SQL}")
def set_union_all(spark: SparkSession, sf: str) -> DataFrame:
    return _set_a(spark, sf).unionAll(_set_b(spark, sf))


@register("set_union_distinct", sql=f"{_SET_A_SQL} UNION {_SET_B_SQL}")
def set_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return _set_a(spark, sf).union(_set_b(spark, sf)).distinct()


@register(
    "set_intersect",
    sql="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    """,
)
def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    c = T(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    return a.intersect(b)


@register("set_except", sql=f"{_SET_A_SQL} EXCEPT ALL {_SET_B_SQL}")
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    return _set_a(spark, sf).exceptAll(_set_b(spark, sf))


# --------------------------------------------------------------------------
# Custom sampling (SURVEY.md §4.2 — built-ins don't cover exact-N per key)
# --------------------------------------------------------------------------


@register(
    "sample_per_group",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                     PARTITION BY o_custkey
                     ORDER BY MD5(o_orderkey::VARCHAR || ':42'), o_orderkey
                 ) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def sample_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """A17 port (StackOverflow.scala `sampleVectors` [H]: exactly
    kernels/langs vectors per language, deterministic per-lang RNG).
    sampleBy() is Bernoulli — not exact-N — so this uses the scale-safe
    deterministic trick: order each group by a seeded HASH of the key
    (stable under any partitioning, unlike rand(seed) which depends on
    partition layout) and keep the first 3. One shuffle, no RNG state.

    The hash is md5(key || ':seed') rather than xxhash64 so the exact
    sample is reproducible OUTSIDE Spark too (any engine with md5 picks
    identical rows — which is what makes it oracle-checkable). At 100 TB
    md5 costs more cycles than xxhash64 but the pass stays narrow and
    cross-engine reproducibility of a training sample is worth it.
    """
    o = T(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":42"))),
        "o_orderkey",
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_APPROX_Q = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

_APPROX_QUANTILES_SQL = """
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5) * 100) / 100 AS exact_p50,
           TRUE AS approx_p50_ok,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9) * 100) / 100 AS exact_p90,
           TRUE AS approx_p90_ok,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.99) * 100) / 100 AS exact_p99,
           TRUE AS approx_p99_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register("agg_approx_quantiles", sql=_APPROX_QUANTILES_SQL)
def agg_approx_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch (Greenwald-Khanna via percentile_approx) next to
    the exact percentiles it approximates — the mergeable-sketch path
    for 100 TB (exact percentile needs a full sort per group; the
    sketch is one partial-aggregable pass).

    Exact-twin oracle (r4, was rows-only): the exact percentiles are
    hash-checked against QUANTILE_CONT (both engines interpolate at
    rank q*(n-1)); the sketch values are engine-specific, so the
    comparison surface carries the RANK-ERROR-BOUND check instead —
    approx_pXX must land between the exact q∓0.002 quantiles (20× the
    sketch's 1/accuracy guarantee), pinned TRUE by the oracle."""
    li = T(spark, sf, "lineitem")
    qs = [q for _, q in _APPROX_Q]
    # ONE exact-percentile aggregate carrying lo/exact/hi for all three
    # quantiles — F.percentile buffers the whole group per agg
    # expression, so three separate calls would triple that memory
    nine = (
        [max(0.0, q - 0.002) for q in qs] + qs + [min(1.0, q + 0.002) for q in qs]
    )
    agged = li.groupBy("l_returnflag").agg(
        # accuracy 2000: rank-error guarantee 1/2000 = 5e-4, still 4x
        # inside the oracle's ±0.002 acceptance band; 10000 cost ~1 s more
        # at sf0.1 for precision the check never uses
        F.percentile_approx("l_extendedprice", qs, 2000).alias("ap"),
        F.percentile("l_extendedprice", F.array(*[F.lit(x) for x in nine])).alias(
            "ex9"
        ),
    )
    k = len(qs)
    cols = ["l_returnflag"]
    for i, (tag, _q) in enumerate(_APPROX_Q, start=1):
        cols.append(dround(F.element_at("ex9", k + i), 2).alias(f"exact_{tag}"))
        cols.append(
            F.element_at("ap", i)
            .between(F.element_at("ex9", i), F.element_at("ex9", 2 * k + i))
            .alias(f"approx_{tag}_ok")
        )
    return agged.select(*cols).orderBy("l_returnflag")


@register(
    "sample_stratified",
    sql="""
    SELECT event_type, COUNT(*) AS sampled_cnt
    FROM (SELECT event_type,
                 SUBSTR(MD5(event_id::VARCHAR || ':7'), 1, 8) AS h
          FROM events)
    WHERE event_type IN ('purchase', 'signup')
       OR (event_type IN ('view', 'click') AND h < '80000000')
       OR (event_type = 'error' AND h < '19999999')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified sampling (dataset-mixing primitive) with per-stratum
    keep fractions {view/click: 0.5, purchase/signup: 1.0, error: 0.1}.

    Deterministic hash-threshold Bernoulli instead of sampleBy(): keep a
    row iff the first 8 hex chars of md5(event_id || ':seed') fall below
    floor(fraction * 2^32) rendered in hex — a lexicographic string
    compare that every engine evaluates identically, so the EXACT sample
    (not just its expectation) is reproducible across engines and runs.
    That's the property a training-data pipeline needs (resumable,
    auditable subsets) and what sampleBy's partition-layout-dependent
    RNG can't give. Narrow pass, no shuffle before the tiny count agg.
    """
    ev = T(spark, sf, "events")
    h = F.substring(
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":7"))), 1, 8
    )
    keep = (
        F.col("event_type").isin("purchase", "signup")
        | (F.col("event_type").isin("view", "click") & (h < F.lit("80000000")))
        | ((F.col("event_type") == "error") & (h < F.lit("19999999")))
    )
    return (
        ev.filter(keep)
        .groupBy("event_type")
        .agg(F.count("*").alias("sampled_cnt"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Skew + co-location techniques as first-class, oracle-proven operators
# --------------------------------------------------------------------------

_SKEW_JOIN_SQL = """
    SELECT hot_key, COUNT(*) AS cnt, ROUND(SUM(value) * 100) / 100 AS sum_value,
           r_name
    FROM (SELECT CASE WHEN user_id < 120 THEN 0 ELSE user_id END AS hot_key,
                 value
          FROM events) e
    JOIN (SELECT r_regionkey, r_name FROM region) r
      ON e.hot_key % 5 = r.r_regionkey
    GROUP BY hot_key, r_name
"""


@register("join_salted_skew", sql=_SKEW_JOIN_SQL)
def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-handling via salting, proven correct: a synthetic hot key
    (80% of events collapse to key 0) joins a small dim. The dim side is
    exploded into SALT copies and the fact side scatters across them, so
    no single reducer owns the hot key. The oracle is the PLAIN join —
    salting must be invisible in the result. (AQE skew-join handles the
    shuffle-join case automatically; explicit salting is the pattern for
    aggregations and for engines/paths AQE can't reach.)"""
    salt_n = 8
    ev = T(spark, sf, "events").select(
        F.when(F.col("user_id") < 120, 0).otherwise(F.col("user_id")).alias("hot_key"),
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(salt_n)).alias("salt"),
    )
    dim = T(spark, sf, "region").select(
        "r_regionkey", "r_name", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))).alias("salt")
    )
    joined = ev.join(
        dim,
        (F.pmod(F.col("hot_key"), F.lit(5)) == F.col("r_regionkey"))
        & (ev.salt == dim.salt),
    )
    # first-level agg keyed by (hot_key, salt) — the salted partial —
    # then the final merge per hot_key
    partial = joined.groupBy("hot_key", "r_name", ev.salt).agg(
        F.count("*").alias("c"), F.sum("value").alias("s")
    )
    return partial.groupBy("hot_key", "r_name").agg(
        F.sum("c").alias("cnt"), dround(F.sum("s"), 2).alias("sum_value")
    ).select("hot_key", "cnt", "sum_value", "r_name")


_BUCKETED_JOIN_SQL = """
    SELECT o_orderkey, o_totalprice, COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice) * 100) / 100 AS sum_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_totalprice
"""


@register("join_bucketed_colocated", sql=_BUCKETED_JOIN_SQL)
def join_bucketed_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located join via bucketing, proven correct against the plain
    join: both sides written bucketBy(16, key) once, then joined WITHOUT
    a shuffle — the physical plan has no Exchange above the scans
    (asserted in tests/test_plans.py). This is the pre-partitioning
    lesson of the reference's pair-RDD chapter (SURVEY.md §4.1) in its
    modern form: at 100 TB, bucketing the fact tables on the join key
    once amortizes every subsequent join/aggregation on that key."""
    import os

    out = scratch_dir("bucketed")
    # fingerprinted name+path: regenerated testdata can't hit stale buckets
    tag = sf_tag(sf) + "_" + data_fingerprint(sf, "lineitem")
    o_name, l_name = f"orders_b_{tag}", f"lineitem_b_{tag}"
    for name, table, key in (
        (o_name, "orders", "o_orderkey"),
        (l_name, "lineitem", "l_orderkey"),
    ):
        if spark.catalog.tableExists(name):
            continue
        path = f"{out}/{name}"
        df = T(spark, sf, table)
        if os.path.exists(f"{path}/_SUCCESS"):
            # bucketed files survive across sessions; only the catalog
            # entry is session-scoped — re-register the existing layout
            # as an external bucketed table instead of rewriting the data
            # (the write dominated this key's cost in every fresh session)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 16 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            (
                df.write.mode("overwrite")
                .option("path", path)
                .bucketBy(16, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    o = spark.table(o_name)
    li = spark.table(l_name)
    # force the sort-merge path: at toy scale AQE would broadcast (adding
    # a BroadcastExchange); the property being demonstrated is the
    # shuffle-free SMJ over co-bucketed scans, which is what survives
    # when BOTH sides are fact-sized
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "agg_null_semantics",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(NULLIF(o_orderpriority, '5-LOW')) AS n_not_low,
           ROUND(COALESCE(SUM(CASE WHEN o_orderstatus <> 'P'
                                   THEN o_totalprice END), 0) * 100) / 100
             AS sum_nonpending,
           ROUND(AVG(NULLIF(o_totalprice, 0.0)) * 100) / 100 AS avg_nonzero,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_prio
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    """NULL-handling contract: COUNT(col) skips nulls, COUNT(*) doesn't;
    SUM/AVG ignore nulls; COALESCE restores a zero for all-null groups —
    identical ANSI semantics on both engines, pinned by the oracle."""
    o = T(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count(F.nullif(F.col("o_orderpriority"), F.lit("5-LOW"))).alias("n_not_low"),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("o_orderstatus") != "P", F.col("o_totalprice"))),
                F.lit(0.0),
            ),
            2,
        ).alias("sum_nonpending"),
        dround(F.avg(F.nullif(F.col("o_totalprice"), F.lit(0.0))), 2).alias(
            "avg_nonzero"
        ),
        F.sum(
            F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
        ).alias("n_null_prio"),
    )


@register(
    "agg_string_concat",
    sql="""
    SELECT o_orderpriority,
           STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           COUNT(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_string_concat(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation (string_agg/listagg): built from
    sorted distinct collect so both engines emit identical strings."""
    o = T(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.count("*").alias("cnt"),
    )


@register(
    "scan_orc_roundtrip",
    sql="""
    SELECT o_orderstatus, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice) * 100) / 100 AS total
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Second columnar source format: write ORC, re-read, aggregate —
    same pushdown/pruning machinery as parquet (Spark native reader).

    DuckDB reads no ORC, but it doesn't need to: ORC round-trips
    doubles/longs exactly, so the oracle is the same filter+agg over the
    original orders table — a value-level check of the ORC write path.
    """
    out = scratch_dir("orc_roundtrip")
    o = T(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), dround(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Subquery family (Catalyst rewrite machinery) + recursion
# --------------------------------------------------------------------------

_SUB_SCALAR_SQL = """
    SELECT o_orderkey, o_totalprice,
           ROUND((o_totalprice - (SELECT AVG(o_totalprice) FROM orders)) * 100)
             / 100 AS diff_from_avg
    FROM orders
"""


@register("sub_scalar", sql=_SUB_SCALAR_SQL)
def sub_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Uncorrelated scalar subquery — Catalyst plans the inner agg once
    and broadcasts the single value into the projection."""
    T(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUB_SCALAR_SQL)


_SUB_IN_SQL = """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
"""


@register("sub_in", sql=_SUB_IN_SQL)
def sub_in(spark: SparkSession, sf: str) -> DataFrame:
    """IN-subquery — rewritten to a left-semi join by the optimizer."""
    T(spark, sf, "orders").createOrReplaceTempView("orders")
    T(spark, sf, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SUB_IN_SQL)


_SUB_CORR_SQL = """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (SELECT ROUND(AVG(o2.o_totalprice) * 1.5 * 100) / 100
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
"""


@register("sub_correlated", sql=_SUB_CORR_SQL)
def sub_correlated(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar-aggregate subquery (orders 50% above the
    customer's own average) — decorrelated into an aggregate + join;
    never an n² rescan."""
    T(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUB_CORR_SQL)


_RCTE_SQL = """
    WITH RECURSIVE r(n) AS (
      SELECT 0
      UNION ALL
      SELECT n + 1 FROM r WHERE n < 24
    )
    SELECT n, n_name FROM r JOIN nation ON n_nationkey = n
"""


@register("sql_recursive_cte", sql=_RCTE_SQL)
def sql_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): a 25-step ladder joined
    back to nation — iteration expressed in SQL rather than a driver
    loop."""
    T(spark, sf, "nation").createOrReplaceTempView("nation")
    return spark.sql(_RCTE_SQL)


_BAND_SQL = """
    SELECT t.lo, t.hi, COUNT(*) AS cnt,
           ROUND(SUM(e.value) * 100) / 100 AS sum_value
    FROM (VALUES (0.0, 100.0), (100.0, 300.0), (300.0, 600.0)) t(lo, hi)
    JOIN events e ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.lo, t.hi
"""


@register("join_broadcast_nl", sql=_BAND_SQL)
def join_broadcast_nl(spark: SparkSession, sf: str) -> DataFrame:
    """Pure-inequality (band/histogram) join: no equi key exists, so the
    only sane physical plan is BroadcastNestedLoopJoin with the tiny
    band table broadcast (asserted in tests/test_plans.py) — the fact
    side streams through once."""
    bands = F.broadcast(
        tiny_df(
            spark, [(0.0, 100.0), (100.0, 300.0), (300.0, 600.0)], "lo double, hi double"
        )
    )
    ev = T(spark, sf, "events")
    return (
        ev.join(bands, (ev.value >= bands.lo) & (ev.value < bands.hi))
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "agg_unpivot",
    sql="""
    SELECT l_orderkey, l_linenumber, metric, ROUND(val * 100) / 100 AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
             l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    ) t
    WHERE l_orderkey % 50 = 0
    """,
)
def agg_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt (wide → long) — the inverse of agg_pivot, via the
    native DataFrame.unpivot (planned as Expand: one pass, no union of
    rescans — the oracle's UNION ALL spells out the semantics)."""
    li = T(spark, sf, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.replace(F.col("metric"), F.lit("l_"), F.lit("")).alias("metric"),
        dround(F.col("val"), 2).alias("val"),
    )


@register(
    "agg_bool",
    sql="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 45) AS n_heavy,
           BOOL_AND(l_quantity > 0) AS all_positive,
           BOOL_OR(l_discount > 0.09) AS any_high_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool(spark: SparkSession, sf: str) -> DataFrame:
    """Boolean aggregate family: count_if / every / any — filtered
    counting without a pre-filter shuffle."""
    li = T(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 45).alias("n_heavy"),
        F.every(F.col("l_quantity") > 0).alias("all_positive"),
        F.some(F.col("l_discount") > 0.09).alias("any_high_disc"),
    )


@register(
    "win_latest_per_key",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM e) t
    WHERE rn = 1
    """,
)
def win_latest_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """Latest record per key (the CDC/SCD compaction pattern): one
    window shuffle keyed by user; Spark executes the rn=1 filter as
    WindowGroupLimit — no per-group full sort."""
    ev = T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    )


@register(
    "ts_gapfill",
    sql=f"""
    WITH e AS ({EVENTS_US_SQL}),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
      FROM e GROUP BY 1, 2
    ),
    bounds AS (SELECT min(date_trunc('hour', ts)) AS lo,
                      max(date_trunc('hour', ts)) AS hi FROM e),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                  FROM bounds) g
    )
    SELECT grid.event_type, epoch_us(grid.h) AS hour_us,
           COALESCE(hourly.cnt, 0) AS cnt
    FROM grid LEFT JOIN hourly
      ON grid.event_type = hourly.event_type AND grid.h = hourly.h
    """,
)
def ts_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling: build the dense (type × hour) grid with
    sequence()+explode, left-join the sparse hourly counts, zero-fill.
    The grid is generated, never materialized from data — at scale the
    dense grid is bounds-sized, not data-sized."""
    ev = T(spark, sf, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


@register(
    "q3_shipping_priority",
    sql="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (second composite flagship): segment-filtered
    customer ⋈ orders ⋈ lineitem with opposing date predicates, grouped
    revenue, global top-10. Every filter is pushed below its join; the
    top-10 plans as TakeOrderedAndProject over the rounded sort key."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    c = T(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = T(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q10_returned_items",
    sql="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100 AS revenue,
           ROUND(MAX(c_acctbal) * 100) / 100 AS acctbal
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (third composite): which customers returned the
    most revenue in a year — returnflag filter pushed into the lineitem
    scan, nation broadcast, top-20 as TakeOrderedAndProject."""
    c = T(spark, sf, "customer")
    n = F.broadcast(T(spark, sf, "nation"))
    o = T(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = T(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            dround(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
"""


@register("join_q4_exists_priority", sql=_Q4_SQL)
def join_q4_exists_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts gated by an EXISTS
    correlated to the order row (any lineitem shipped after the order
    date). The EXISTS plans as a LEFT SEMI join on orderkey — one
    shuffle, no row duplication, no decorrelation rescan."""
    T(spark, sf, "orders").createOrReplaceTempView("orders")
    T(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q4_SQL)


_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    HAVING ROUND(SUM(l_quantity) * 100) / 100 > 150.0
"""


@register("join_q18_large_orders", sql=_Q18_SQL)
def join_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders). Spark-first refinement of
    the textbook plan: aggregate lineitem FIRST (partial map-side sums
    on orderkey), filter to the rare big orders, THEN join the
    dimension rows — the join input shrinks from every lineitem to the
    qualifying orders only. HAVING compares the canonicalized sum
    (cross-engine ulp policy, see agg_having)."""
    li = T(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dround(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150.0)
    )
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            dround(F.col("o_totalprice"), 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


_SALTED_AGG_SQL = """
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
"""


@register("agg_salted_skew", sql=_SALTED_AGG_SQL)
def agg_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase SALTED aggregation on a skewed low-cardinality key
    (event_type: a handful of values over the whole fact table), proven
    exactly equal to the plain groupBy by the oracle.

    Phase 1 groups on (key, salt) — 16-way fan-out puts the hot key on
    16 reducers instead of one; phase 2 merges the 16 partials per key
    (tiny). SUM/COUNT re-aggregate losslessly; the same shape carries
    any algebraic aggregate. Spark's partial aggregation already does
    this WITHIN a task — explicit salting is for when one reducer's
    MERGE side is the bottleneck at 100 TB."""
    ev = T(spark, sf, "events")
    phase1 = (
        ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("c"), F.sum("value").alias("s"))
    )
    return phase1.groupBy("event_type").agg(
        F.sum("c").alias("cnt"), dround(F.sum("s"), 2).alias("sum_value")
    )


@register(
    "agg_hll_mergeable",
    # Exact-twin oracle (r4, was rows-only): per-type and global exact
    # distincts are hash-checked; the Datasketches estimates (engine-
    # specific binaries) cross the surface as error-bound booleans
    # (5% ≈ 3σ at lgConfigK 12), pinned TRUE by the oracle. The UNION
    # path is what's really under test: a broken merge (double-count,
    # lost registers) lands far outside 5% of the global exact.
    sql="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_ok,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_all,
           TRUE AS union_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf: str) -> DataFrame:
    """Datasketches HLL as a FIRST-CLASS mergeable aggregate: per-type
    sketches built with hll_sketch_agg, then MERGED (hll_union_agg) into
    a global estimate — the pattern that lets 100 TB distinct-counts be
    computed incrementally (per partition / per day) and unioned later,
    which approx_count_distinct alone cannot (its sketch isn't exposed).
    Emits per-type exact + estimate-bound check, and the union-of-
    sketches estimate bound-checked against the global exact."""
    ev = T(spark, sf, "events")

    def within(approx, exact):
        return F.abs(approx - exact) <= F.greatest(exact * 0.05, F.lit(10.0))

    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_all")
    ).crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_all")))
    return (
        per.select(
            "event_type",
            "exact_users",
            within(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias(
                "approx_ok"
            ),
        )
        .crossJoin(F.broadcast(merged))
        .select(
            "event_type",
            "exact_users",
            "approx_ok",
            "exact_all",
            within(F.col("approx_all"), F.col("exact_all")).alias("union_ok"),
        )
        .orderBy("event_type")
    )


_FUNNEL_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    seqs AS (
      SELECT user_id,
             STRING_AGG(SUBSTR(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM e GROUP BY user_id
    )
    SELECT user_id, LENGTH(seq) AS n_events,
           REGEXP_MATCHES(seq, 'v.*c.*p') AS funnel_vcp,
           REGEXP_MATCHES(seq, 'v.*p') AS funnel_vp
    FROM seqs
"""


@register("win_funnel_sequence", sql=_FUNNEL_SQL)
def win_funnel_sequence(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel analysis: per user, the event-initial sequence in event
    time (listagg WITHIN GROUP — Spark 4), then ordered-subsequence
    regexes (view→click→purchase). One shuffle on user_id; the regex is
    per-user-row, not per-event. The classic product-analytics op that
    usually gets pushed to a specialized engine — native here."""
    ev = T(spark, sf, "events")
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "listagg(substr(event_type, 1, 1), '') "
            "WITHIN GROUP (ORDER BY ts, event_id)"
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").alias("n_events"),
        F.col("seq").rlike("v.*c.*p").alias("funnel_vcp"),
        F.col("seq").rlike("v.*p").alias("funnel_vp"),
    )


_ASOF_TOL_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           (SELECT v.event_id FROM v
             WHERE v.user_id = p.user_id AND v.ts <= p.ts
               AND v.ts >= p.ts - INTERVAL 10 MINUTE
             ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_id
    FROM p
"""


@register("join_asof_tolerance", sql=_ASOF_TOL_SQL)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas merge_asof semantics:
    match only if the prior view is within 10 minutes). Same union +
    window-carry formulation as join_asof — the tolerance is a residual
    null-out on the carried timestamp, not a different join plan, so the
    100 TB shape is unchanged."""
    e = T(spark, sf, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("vid"),
        F.lit(None).cast("long").alias("pid"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("vid"),
        F.col("event_id").alias("pid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("vid", "pid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        v.unionByName(p)
        .withColumn("view_id", F.last("vid", ignorenulls=True).over(w))
        .withColumn(
            "view_ts",
            F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("kind") == 1)
    )
    in_tol = F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES")
    return carried.select(
        F.col("pid").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.when(in_tol, F.col("view_id")).alias("view_id"),
    )


_ASOF_FWD_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           (SELECT v.event_id FROM v
             WHERE v.user_id = p.user_id AND v.ts >= p.ts
             ORDER BY v.ts ASC, v.event_id ASC LIMIT 1) AS next_view_id
    FROM p
"""


@register("join_asof_forward", sql=_ASOF_FWD_SQL)
def join_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD as-of join (first view at/after each purchase — "what did
    the user do next"): the mirror window, first ignorenulls over
    [currentRow, unbounded). A view at the exact purchase instant counts
    as next (kind 0 at equal ts sorts before kind 1 in the backward
    variant; here the frame starts at the purchase row, and views at the
    same ts sort AFTER it via kind 1 < kind 0 reversal — see ordering)."""
    e = T(spark, sf, "events")
    # purchases get kind 0 so at equal ts the frame [current, ...] still
    # contains same-instant views (kind 1) ahead of them
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("vid"),
        F.lit(None).cast("long").alias("pid"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("vid"),
        F.col("event_id").alias("pid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("vid", "pid"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        v.unionByName(p)
        .withColumn("next_view_id", F.first("vid", ignorenulls=True).over(w))
        .filter(F.col("kind") == 0)
        .select(
            F.col("pid").alias("purchase_id"),
            "user_id",
            F.unix_micros("ts").alias("purchase_ts_us"),
            "next_view_id",
        )
    )


_MERGE_SCHEMA_SQL = """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
    FROM orders
"""


@register("scan_parquet_schema_evolution", sql=_MERGE_SCHEMA_SQL)
def scan_parquet_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution across parquet generations: an old slice written
    WITHOUT o_orderpriority and a new slice WITH it, read back as one
    relation via mergeSchema — old rows surface NULL for the added
    column. This is the day-to-day reality of a 100 TB lake (columns
    appear over time; re-writing history is not an option). mergeSchema
    costs a footer read per file — at scale you'd pin the merged schema
    in a catalog instead, which is why it's off by default."""
    out = scratch_dir("schema_evolution") + "/" + sf_tag(sf)
    o = T(spark, sf, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(out + "/gen=0")
    new.write.mode("overwrite").parquet(out + "/gen=1")
    back = spark.read.option("mergeSchema", True).parquet(out + "/gen=0", out + "/gen=1")
    return back.select("o_orderkey", "o_totalprice", "o_orderpriority")


_UNION_BY_NAME_SQL = """
    SELECT o_orderkey, o_totalprice, o_orderpriority, NULL AS c_mktsegment
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT c_custkey AS o_orderkey, c_acctbal AS o_totalprice,
           NULL AS o_orderpriority, c_mktsegment
    FROM customer WHERE c_custkey % 100 = 0
"""


@register("set_union_by_name", sql=_UNION_BY_NAME_SQL)
def set_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-aligned union where
    each side NULL-fills the other's missing columns — the safe way to
    stack heterogeneous slices (positional UNION silently mismatches
    columns when schemas drift)."""
    o = T(spark, sf, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    c = T(spark, sf, "customer").filter(F.col("c_custkey") % 100 == 0).select(
        F.col("c_custkey").alias("o_orderkey"),
        F.col("c_acctbal").alias("o_totalprice"),
        "c_mktsegment",
    )
    return o.unionByName(c, allowMissingColumns=True)


_REGR_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT user_id,
           ROUND(REGR_SLOPE(value, epoch_us(ts) / 1000000.0) * 1e6) / 1e6 + 0.0
             AS slope,
           ROUND(REGR_INTERCEPT(value, epoch_us(ts) / 1000000.0) * 1e4) / 1e4 + 0.0
             AS intercept,
           ROUND(CORR(value, epoch_us(ts) / 1000000.0) * 1e6) / 1e6 + 0.0 AS r,
           COUNT(*) AS n
    FROM e GROUP BY user_id HAVING COUNT(*) >= 3
"""


@register("agg_regression", sql=_REGR_SQL)
def agg_regression(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user linear trend of event value over time via the native
    regression aggregates (regr_slope/regr_intercept/corr) — one
    partial-aggregable pass (each is sums/products underneath), vs the
    applyInPandas formulation that would materialize each group. The
    time axis is epoch SECONDS as double: epoch-micros as double would
    square to ~1e30 and lose the slope in catastrophic cancellation —
    canonicalized at 1e6/1e4 because the final divisions are
    accumulation-order sensitive across engines."""
    ev = T(spark, sf, "events")
    x = (F.unix_micros("ts") / F.lit(1000000.0))

    # + 0.0 maps IEEE -0.0 to 0.0 (DuckDB REGR_SLOPE can emit -0.0
    # where Spark emits 0.0 — same fixup on both engines); the isnan
    # guard maps Spark's NaN on a degenerate group (zero variance in x
    # or y) to NULL, which is what DuckDB yields there — latent with
    # current data, same lesson as agg_corr_matrix (ADVICE r3).
    def reg(c, places, alias):
        return (
            F.when(F.isnan(c), F.lit(None).cast("double"))
            .otherwise(dround(c, places) + F.lit(0.0))
            .alias(alias)
        )

    return (
        ev.groupBy("user_id")
        .agg(
            reg(F.regr_slope("value", x), 6, "slope"),
            reg(F.regr_intercept("value", x), 4, "intercept"),
            reg(F.corr("value", x), 6, "r"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 3)
    )


_SCD1_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 4 != 0
    ),
    changes AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             ROUND(o_totalprice * 1.1, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(c.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN c.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                THEN 'updated'
                WHEN c.o_orderkey IS NOT NULL THEN 'inserted'
                ELSE 'unchanged' END AS change_kind
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
"""


@register("merge_upsert_scd1", sql=_SCD1_SQL)
def merge_upsert_scd1(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE/upsert (SCD type 1, latest-wins) without a table format:
    base ⟗ changes full-outer on the key, changed columns COALESCE to
    the change side, rows tagged inserted/updated/unchanged. This is
    exactly what Delta/Iceberg MERGE INTO compiles to underneath (join
    on the merge key + per-column resolution); with neither format in
    the environment, the engine expresses the plan directly. One shuffle
    on the key; at 100 TB the base side would be bucketed on the key so
    only the (small) change batch shuffles."""
    o = T(spark, sf, "orders")
    base = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        dround(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
    )
    b, c = base.alias("b"), changes.alias("c")
    return b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full").select(
        F.coalesce(F.col("c.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("c.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("c.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(
            F.col("c.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull(),
            "updated",
        )
        .when(F.col("c.o_orderkey").isNotNull(), "inserted")
        .otherwise("unchanged")
        .alias("change_kind"),
    )


_DPP_SQL = """
    WITH dim AS (SELECT * FROM (VALUES ('R', 'keep'), ('A', 'drop'), ('N', 'drop'))
                 t(flag, label) WHERE label = 'keep')
    SELECT l_returnflag, COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN dim ON l_returnflag = flag
    GROUP BY l_returnflag
"""


@register("join_dynamic_partition_pruning", sql=_DPP_SQL)
def join_dynamic_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is a parquet table
    PARTITIONED on the join key; the dim side's filter is only known at
    runtime (it's read from a file, not a literal), so Catalyst injects
    a DynamicPruningSubquery into the fact scan's PartitionFilters —
    the fact table reads ONLY the surviving partition directories.
    At 100 TB this is the difference between scanning one date/region
    partition and scanning the lake. Plan shape pinned in
    tests/test_plans.py (dynamicpruningexpression present)."""

    def build(tmp: str) -> None:
        T(spark, sf, "lineitem").write.mode("overwrite").partitionBy(
            "l_returnflag"
        ).parquet(tmp + "/fact")
        tiny_df(
            spark, [("R", "keep"), ("A", "drop"), ("N", "drop")], "flag string, label string"
        ).write.mode("overwrite").parquet(tmp + "/dim")

    out = artifact(artifact_path("dpp", sf, ("lineitem",), "lineitem"), build)
    fact = spark.read.parquet(out + "/fact")
    dim = F.broadcast(
        spark.read.parquet(out + "/dim").filter(F.col("label") == "keep")
    )
    return (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            dround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


_BLOOM_SQL = """
    SELECT o_orderpriority, COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000.0
    GROUP BY o_orderpriority
"""


@register("join_runtime_bloom_filter", sql=_BLOOM_SQL)
def join_runtime_bloom_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime bloom-filter join (InjectRuntimeFilter): the selective
    filter on orders builds a bloom filter that is pushed into the
    LINEITEM scan as might_contain(l_orderkey) — fact rows that cannot
    match drop before the shuffle. This is the shuffle-join counterpart
    of DPP: when BOTH sides are fact-sized (no broadcast possible at
    100 TB), the bloom filter is what keeps the big side's shuffle
    proportional to matching rows. Broadcast is disabled inside this
    query only — the rule correctly skips broadcastable joins, but at
    toy scale everything is broadcastable, which would hide the shape
    being demonstrated. Plan gated in tests/test_plans.py."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    with session_confs(spark, confs):
        o = T(spark, sf, "orders").filter(F.col("o_totalprice") > 400000.0)
        li = T(spark, sf, "lineitem")
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("cnt"),
                dround(F.sum("l_extendedprice"), 2).alias("sum_price"),
            )
        )
        # materialize the physical plan while the confs are active —
        # QueryExecution caches it, so the bloom filter survives the
        # conf restore when the block ends (plans are lazy; without
        # this the plan would be compiled later under default confs)
        df._jdf.queryExecution().executedPlan()
    return df


_MAXBY_SQL = """
    SELECT event_type, top_event_id, top_value, bottom_event_id
    FROM (
      SELECT event_type, event_id AS top_event_id,
             ROUND(value, 2) AS top_value,
             FIRST_VALUE(event_id) OVER (PARTITION BY event_type
                 ORDER BY value ASC, event_id ASC) AS bottom_event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
"""


@register("agg_max_by", sql=_MAXBY_SQL)
def agg_max_by(spark: SparkSession, sf: str) -> DataFrame:
    """max_by / min_by (argmax aggregates): the event carrying the
    extreme value per type, tie-broken deterministically by packing
    (value, event_id) into an orderable struct — bare max_by on a
    non-unique ordering key is nondeterministic on BOTH engines, so the
    contract is the struct ordering (mirrored as ORDER BY value, id in
    the oracle's window formulation). One partial-aggregable pass —
    at scale this replaces the rank-window latest/extreme-per-key when
    only the argmax row is needed."""
    ev = T(spark, sf, "events")
    ordkey = F.struct("value", "event_id")
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", ordkey).alias("top_event_id"),
        dround(F.max_by("value", ordkey), 2).alias("top_value"),
        F.min_by("event_id", ordkey).alias("bottom_event_id"),
    )


_TRY_ARITH_SQL = f"""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_discount, 0.0) AS price_per_disc,
           CAST(l_quantity AS BIGINT)
             // NULLIF(CAST(ROUND(l_tax * 100) AS BIGINT), 0) AS q_div_tax,
           {portable_try_int_sql("l_returnflag")} AS flag_int
    FROM lineitem WHERE l_linenumber = 1
"""


@register("fn_try_arith", sql=_TRY_ARITH_SQL)
def fn_try_arith(spark: SparkSession, sf: str) -> DataFrame:
    """try_* arithmetic under ANSI mode (Spark 4 default): division by
    zero yields NULL instead of aborting the job — one malformed row
    can't kill a 100 TB pass. DuckDB's plain operators return NULL via
    NULLIF guards; Spark's try_divide does it natively."""
    li = T(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", F.col("l_discount")).alias("price_per_disc"),
        # explicit ROUND on both engines: bare CAST(x*100 AS BIGINT)
        # rounds in DuckDB but truncates in Spark — they only agreed on
        # the current data by luck (l_tax grid has no .5 boundary).
        F.try_divide(
            F.col("l_quantity").cast("long"),
            F.round(F.col("l_tax") * 100, 0).cast("long"),
        ).cast("long").alias("q_div_tax"),
        # portable accepted-set gate (engine.canon.portable_try_int):
        # identical NULL set on both engines for ANY data, and it skips
        # ANSI try_cast's raise-and-catch-per-row on non-numeric
        # strings (0.81 s -> 0.11 s for this column at sf0.1)
        portable_try_int("l_returnflag").alias("flag_int"),
    )


_COLLATE_SQL = """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE LOWER(n_name) = 'nation_3'
    GROUP BY n_name
"""


@register("fn_collation_lcase", sql=_COLLATE_SQL)
def fn_collation_lcase(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 collations: UTF8_LCASE makes the EQUALITY itself
    case-insensitive (collation travels with the type through joins and
    aggregations) — vs wrapping every comparison in LOWER(), which
    blocks index/stats use and is easy to forget on one side. The
    oracle mirrors with LOWER()."""
    c = T(spark, sf, "customer")
    n = F.broadcast(T(spark, sf, "nation"))
    lcase_name = F.collate(F.col("n_name"), "UTF8_LCASE")
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(lcase_name == F.lit("NATION_3").try_cast("string"))
        .groupBy(F.col("n_name").cast("string").alias("n_name"))
        .agg(F.count("*").alias("n_customers"))
    )
