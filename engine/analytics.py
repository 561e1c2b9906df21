"""Round-3 breadth: the remaining classic TPC-H query shapes adapted to
the driver's star schema (no partsupp / commitdate — predicates adapted,
shapes preserved), batch sessionization, and two more LLM-data-pipeline
ops (benchmark decontamination, weighted source mixing).

Scale design notes (100 TB posture):
- q6: pure scan-side query — every predicate reaches PushedFilters, the
  aggregate is a two-phase partial/final pair; zero shuffle of data rows.
- q9/q12/q14/q16/q19: the fact table shuffles at most once (or not at
  all when the dim side broadcasts); dims are broadcast explicitly.
- q11: the global scalar is one extra reduction, broadcast back into
  the HAVING filter — never a driver-side loop.
- sessionization: two stacked windows per user (lag → flag → running
  sum) — one shuffle on user_id, state linear in events per user.
- decontamination: the eval side is tiny by construction (a benchmark),
  so the shingle join is a BROADCAST join — the 100 TB train corpus
  never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql import Column

from engine.canon import dround
from engine.registry import register
from engine.session import (
    EVENTS_US_SQL,
    T,
    session_confs,
    sf_tag,
    tiny_df,
)


def _exact_sum2(expr: Column, scale: int = 10_000) -> Column:
    """Sum a fixed-decimal money expression EXACTLY: per-row scale to
    integer units (l_extendedprice has 2 decimals, discount factors 2
    more → exact at 1e4), sum as BIGINT, divide once, round to cents.
    Double summation is accumulation-order dependent — engines disagree
    at half-cent boundaries (the summary.py _AVG1 lesson); integer sums
    are order-free and identical everywhere."""
    units = F.sum(dround(expr * scale, 0).cast("long"))
    return dround(units / F.lit(float(scale)), 2)


#: oracle-side mirror of _exact_sum2
_EXACT_SUM2 = (
    "ROUND(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT))"
    " / CAST({scale} AS DOUBLE) * 100) / 100"
)

# --------------------------------------------------------------------------
# TPC-H remainder (adapted to the available schema)
# --------------------------------------------------------------------------

_Q6_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           {_EXACT_SUM2.format(expr="l_extendedprice * l_discount", scale=10000)}
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
"""


@register("q6_forecast_revenue", sql=_Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: filter-only revenue forecast. The showcase for
    scan-side execution — every predicate (date range, discount band,
    quantity cap) reaches the parquet scan's PushedFilters, so at 100 TB
    the query reads row-group statistics, not rows, wherever possible;
    the aggregate is a partial/final HashAggregate pair with no row
    shuffle (plan-gated in tests/test_plans.py)."""
    li = T(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_lines"),
            _exact_sum2(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
        )
    )


_Q9_SQL = f"""
    SELECT n_name,
           CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           {_EXACT_SUM2.format(expr="l_extendedprice * (1 - l_discount)", scale=10000)}
             AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, o_year
"""


@register("q9_product_profit", sql=_Q9_SQL)
def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (profit by nation and year over a part-name
    filter). part/supplier/nation broadcast (the p_name filter shrinks
    part further before the hint); lineitem joins orders on the order
    key — the only shuffle of fact-sized data."""
    li = T(spark, sf, "lineitem")
    p = F.broadcast(
        T(spark, sf, "part").filter(F.col("p_name").like("%gear%")).select("p_partkey")
    )
    s = F.broadcast(T(spark, sf, "supplier").select("s_suppkey", "s_nationkey"))
    n = F.broadcast(T(spark, sf, "nation").select("n_nationkey", "n_name"))
    o = T(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _exact_sum2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "profit"
            )
        )
    )


_Q11_SQL = """
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_extendedprice * l_quantity * 100) AS BIGINT))
               AS cents
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, cents / CAST(100 AS DOUBLE) AS part_value
    FROM pv
    WHERE cents * 1000 > (SELECT CAST(SUM(cents) AS BIGINT) FROM pv)
"""


@register("q11_important_stock", sql=_Q11_SQL)
def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value vs a fraction of the
    GLOBAL total — a HAVING against a scalar subquery. The global sum is
    one extra reduction over the already-grouped values, broadcast back
    as a literal-like scalar; both sides of the comparison are rounded
    first because the raw threshold compare is accumulation-order
    sensitive across engines — so BOTH the per-part value and the
    threshold compare run in exact integer cents (value_cents * 1000 >
    total_cents ⟺ value > total/1000, no floats anywhere until the
    output projection)."""
    li = T(spark, sf, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(
            dround(F.col("l_extendedprice") * F.col("l_quantity") * 100, 0).cast(
                "long"
            )
        ).alias("cents")
    )
    thr = pv.agg(F.sum("cents").alias("total_cents"))
    return (
        pv.crossJoin(F.broadcast(thr))
        .filter(F.col("cents") * 1000 > F.col("total_cents"))
        .select(
            "l_partkey",
            (F.col("cents") / F.lit(100.0)).alias("part_value"),
        )
    )


_Q12_SQL = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
"""


@register("q12_priority_by_status", sql=_Q12_SQL)
def q12_priority_by_status(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (priority-class line counts per line status; the
    shipmode column doesn't exist in this schema, linestatus plays its
    role). Conditional aggregation — both counters come out of ONE pass,
    not two filtered subqueries; the date filter is pushed to the
    lineitem scan before the join."""
    li = T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = T(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q14_SQL = """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)) * 1e4) / 1e4
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-07-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


@register("q14_promo_revenue", sql=_Q14_SQL)
def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — a ratio of two conditional
    sums in one aggregation pass over the date-filtered fact, part
    broadcast. Rounded at 4 decimals: the ratio of two large sums is
    stable far beyond that, while raw repr would expose accumulation
    order."""
    li = T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = F.broadcast(T(spark, sf, "part").select("p_partkey", "p_type"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            dround(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct")
        )
    )


_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#15'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
"""


@register("q16_parts_supplier", sql=_Q16_SQL)
def q16_parts_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per surviving part
    config. The part-side filters (brand exclusion, type exclusion, size
    IN-list) all prune the broadcast side BEFORE the join; distinct-count
    expands to a two-level aggregate (dedup then count) that stays
    partial-aggregable."""
    p = F.broadcast(
        T(spark, sf, "part").filter(
            (F.col("p_brand") != "Brand#15")
            & (F.col("p_type") != "PROMO")
            & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        )
    )
    li = T(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_Q19_SQL = f"""
    SELECT {_EXACT_SUM2.format(expr="l_extendedprice * (1 - l_discount)", scale=10000)}
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 31 AND 50
           AND l_quantity BETWEEN 20 AND 30)
"""


@register("q19_discounted_revenue", sql=_Q19_SQL)
def q19_discounted_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands over an equi-join. The OR-of-ANDs stays a RESIDUAL on the
    p_partkey equi-join (never a nested-loop); Catalyst additionally
    derives the common l_quantity range for scan pushdown."""
    li = T(spark, sf, "lineitem")
    p = F.broadcast(T(spark, sf, "part").select("p_partkey", "p_brand", "p_size"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(16, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(31, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            _exact_sum2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Batch sessionization (the batch twin of stream_session)
# --------------------------------------------------------------------------

_SESSIONIZE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    flags AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flags
    )
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
             AS duration_s
    FROM sess GROUP BY user_id, session_id
"""


@register("win_sessionize_gap", sql=_SESSIONIZE_SQL)
def win_sessionize_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap: lag → new-
    session flag → running sum = session id, then per-session rollup.
    The batch twin of stream_session (same gap semantics, checkable
    end-to-end by SQL). One shuffle on user_id; both windows and the
    final aggregate share that partitioning, so the three stages
    pipeline without re-shuffling. Ties broken by event_id so both
    engines order identically."""
    ev = T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1_000_000))
        .cast("long")
        .alias("duration_s"),
    )


# --------------------------------------------------------------------------
# LLM-data-pipeline: decontamination + weighted source mixing + profiling
# --------------------------------------------------------------------------

_DECONTAM_SQL = """
    WITH toks AS (
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
    )
    SELECT g.doc_id, CAST(COUNT(DISTINCT g.s) AS BIGINT) AS n_shared_grams
    FROM grams g JOIN eval_grams e USING (s)
    WHERE g.doc_id % 97 != 0
    GROUP BY g.doc_id
"""


@register("pipeline_decontaminate", sql=_DECONTAM_SQL)
def pipeline_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-gram with the eval set (here: doc_id % 97 == 0 stands in for the
    benchmark). The eval shingle set is tiny BY CONSTRUCTION (benchmarks
    are small), so it broadcasts — the 100 TB train side is filtered by
    a broadcast hash join on the shingle and never shuffles; output is
    per-doc shared-gram counts (the removal list)."""
    d = T(spark, sf, "documents").select("doc_id", F.split("text", " ").alias("t"))
    d = d.filter(F.size("t") >= 8)
    grams = d.select(
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
    eval_grams = F.broadcast(
        grams.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(eval_grams, "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared_grams"))
    )


_MIX_SQL = """
    WITH w AS (
      SELECT source, doc_id,
             CAST(SUBSTR(source, 4) AS INTEGER) % 3 + 1 AS weight
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN doc_id % 4 < weight THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(MAX(weight) AS BIGINT) AS weight
    FROM w GROUP BY source
"""


@register("pipeline_mix_sources", sql=_MIX_SQL)
def pipeline_mix_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted source mixing for a training run: each source gets a
    target weight (here derived from its id), documents are kept by a
    DETERMINISTIC hash-free rule (doc_id mod) at weight/4 rate — the
    same rows survive on any engine or cluster size, unlike rand()-based
    sampleBy. Output: per-source kept/total — the mixing audit table.
    One scan, one partial-aggregated shuffle on source."""
    d = T(spark, sf, "documents").select(
        "source",
        "doc_id",
        (F.substring("source", 4, 10).cast("int") % 3 + 1).alias("weight"),
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("doc_id") % 4 < F.col("weight"), 1).otherwise(0)).alias(
            "n_sampled"
        ),
        F.max("weight").cast("long").alias("weight"),
    )


_NULLSAFE_SQL = """
    WITH dim AS (
      SELECT * FROM (VALUES ('1-URGENT', 'hot'), (NULL, 'unknown'),
                            ('5-LOW', 'cold')) t(prio, bucket)
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders JOIN dim ON o_orderpriority IS NOT DISTINCT FROM prio
    GROUP BY bucket
"""


@register("join_null_safe", sql=_NULLSAFE_SQL)
def join_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    a NULL dim row instead of silently dropping — the semantics you want
    when NULL is a real category (unclassified rows must land in an
    'unknown' bucket, not vanish). Stays a hashable equi-join key in
    Spark (EqualNullSafe is a join key, not a residual), dim broadcast."""
    o = T(spark, sf, "orders")
    dim = F.broadcast(
        tiny_df(
            spark,
            [("1-URGENT", "hot"), (None, "unknown"), ("5-LOW", "cold")],
            "prio string, bucket string",
        )
    )
    return (
        o.join(dim, F.col("o_orderpriority").eqNullSafe(F.col("prio")))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
    )


_LM_SCORE_SQL = """
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
      FROM vocab
    )
    SELECT t.doc_id,
           ROUND(SUM(CAST(ROUND(LN((vocab.cnt + 1.0) / (tot.n + tot.v)) * 1e6)
                          AS BIGINT))
                 / (COUNT(*) * 1e6) * 1e4) / 1e4 AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_toks
    FROM toks t JOIN vocab ON t.w = vocab.w CROSS JOIN tot
    GROUP BY t.doc_id
"""


@register("text_lm_score", sql=_LM_SCORE_SQL)
def text_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model quality score per document: token
    log-probabilities from the corpus's OWN add-one-smoothed unigram
    counts, averaged per doc — the classic cheap perplexity proxy for
    pretrain filtering. Two passes: build vocab (one shuffle on token),
    broadcast it (a natural-language unigram vocab is bounded, ~1e6
    entries, broadcastable at any corpus size), then score docs with a
    map-side join + one shuffle on doc_id. Per-token log-probs are
    rounded to integer 1e-6 units BEFORE summing so both engines add
    identical integers (float sum order and libm ulp diffs never reach
    the hash)."""
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"), F.count("*").alias("v"))
    units = dround(
        F.log((F.col("cnt") + 1.0) / (F.col("n") + F.col("v"))) * 1e6, 0
    ).cast("long")
    return (
        toks.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", units.alias("u"))
        .groupBy("doc_id")
        .agg(
            dround(F.sum("u") / (F.count("*") * 1e6), 4).alias("avg_logprob"),
            F.count("*").alias("n_toks"),
        )
    )


_HIST_SQL = """
    SELECT CAST(n_chars // 50 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY bucket
"""


@register("agg_hist_fixed_width", sql=_HIST_SQL)
def agg_hist_fixed_width(spark: SparkSession, sf: str) -> DataFrame:
    """Length-distribution profiling (fixed-width histogram over doc
    size) — the first thing a training-data pipeline computes per crawl
    batch. Arithmetic bucketing (floor-div) instead of width_bucket so
    the bucket rule is portable to any engine; partial-aggregable, one
    tiny shuffle (≤ #buckets groups)."""
    d = T(spark, sf, "documents")
    return (
        d.groupBy(F.floor(F.col("n_chars") / 50).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H remainder, part 2 (q8/q13/q15/q17/q22) + SCD2 history merge
# --------------------------------------------------------------------------

_Q8_SQL = """
    WITH rev AS (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
               AS units,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders    ON o_orderkey = l_orderkey
      JOIN customer  ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region    ON r_regionkey = cn.n_regionkey
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN units ELSE 0 END)
                 / CAST(SUM(units) AS DOUBLE) * 1e4) / 1e4 AS mkt_share
    FROM rev GROUP BY o_year
"""


@register("q8_market_share", sql=_Q8_SQL)
def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of revenue sold to one
    region's customers, per year. Two independent dimension ARMS hang off
    the fact row (customer→nation→region for the filter, supplier→nation
    for the share tag) — all broadcast; the only fact-sized shuffle is
    lineitem⋈orders. The share is a ratio of two exact-integer unit sums
    (order-free), rounded at 4."""
    li = T(spark, sf, "lineitem")
    o = T(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cn = T(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = T(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    c = T(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    sn = T(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_dim = F.broadcast(
        c.join(cn, c.c_nationkey == cn.cn_key)
        .join(r, cn.cn_region == r.r_regionkey)
        .select("c_custkey")
    )
    supp_dim = F.broadcast(
        s.join(sn, s.s_nationkey == sn.sn_key).select("s_suppkey", "supp_nation")
    )
    units = dround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0).cast(
        "long"
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_dim, o.o_custkey == cust_dim.c_custkey)
        .join(supp_dim, li.l_suppkey == supp_dim.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            units.alias("units"),
            "supp_nation",
        )
    )
    tgt = F.when(F.col("supp_nation") == "NATION_5", F.col("units")).otherwise(F.lit(0))
    return rev.groupBy("o_year").agg(
        dround(F.sum(tgt) / F.sum("units").cast("double") * 1e4, 0).alias("_t")
    ).select("o_year", (F.col("_t") / 1e4).alias("mkt_share"))


_Q13_SQL = """
    WITH c_orders AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority IS NOT NULL
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
"""


@register("q13_customer_distribution", sql=_Q13_SQL)
def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    the zero bucket — the left join keeps order-less customers and
    COUNT(col) (not COUNT(*)) gives them 0. The join-side filter lives
    in the JOIN CONDITION, not WHERE (a WHERE would silently turn the
    left join inner). Double aggregation: per-customer count (shuffle on
    custkey) then histogram (tiny shuffle on the count value)."""
    c = T(spark, sf, "customer").select("c_custkey")
    o = T(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & F.col("o_orderpriority").isNotNull(),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           units / CAST(10000 AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE units = (SELECT MAX(units) FROM revenue)
"""


@register("q15_top_supplier", sql=_Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    an aggregate compared against the MAX over the same aggregate. The
    revenue CTE is computed once; its max is a one-row broadcast, not a
    re-scan. Revenue is summed in exact integer units so 'equals max' is
    an INTEGER comparison — no float-tie ambiguity across engines."""
    li = T(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    units = dround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000, 0).cast(
        "long"
    )
    revenue = li.select(F.col("l_suppkey").alias("supplier_no"), units.alias("u")).groupBy(
        "supplier_no"
    ).agg(F.sum("u").alias("units"))
    mx = revenue.agg(F.max("units").alias("mx"))
    s = T(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("units") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("units") / 10_000.0).alias("total_revenue")
        )
    )


_Q17_SQL = """
    WITH pa AS (
      SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 / CAST(100 AS DOUBLE) / 7.0 * 100) / 100 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pa.pk = l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
"""


@register("q17_small_qty_revenue", sql=_Q17_SQL)
def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders far below a part's average
    order quantity. The correlated 'avg per this part' becomes one
    grouped aggregate joined back on partkey (decorrelated by hand —
    exactly what Catalyst does to the subquery form). The comparison is
    deterministic cross-engine: quantities are integer-valued doubles,
    so their sum (hence avg) is EXACT in IEEE double regardless of
    order."""
    li = T(spark, sf, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    p = F.broadcast(
        T(spark, sf, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    cents = dround(F.col("l_extendedprice") * 100, 0).cast("long")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dround(F.sum(cents) / F.lit(100.0) / F.lit(7.0), 2).alias("avg_yearly")
        )
    )


_Q22_SQL = """
    WITH cents AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    pos AS (
      SELECT CAST(SUM(bal_cents) AS BIGINT) AS total_cents,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM cents WHERE bal_cents > 0
    )
    SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           SUM(bal_cents) / CAST(100 AS DOUBLE) AS totacctbal
    FROM cents e CROSS JOIN pos
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND bal_cents * n_pos > total_cents
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = e.c_custkey)
    GROUP BY c_nationkey
"""


@register("q22_sales_opportunity", sql=_Q22_SQL)
def q22_sales_opportunity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers (balance above the
    positive-balance average) in target countries who never ordered —
    scalar-subquery threshold + anti-join. The 'above average' test runs
    ENTIRELY in integer cents (bal*n > total ⟺ bal > total/n), so the
    float average never exists to disagree about; the no-orders test is
    a LEFT ANTI join (one shuffle on custkey, or a broadcast of the
    distinct custkeys if orders' key set fits)."""
    c = T(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        dround(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    pos = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("total_cents"), F.count("*").alias("n_pos")
    )
    o = T(spark, sf, "orders").select("o_custkey")
    return (
        c.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("total_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            (F.sum("bal_cents") / F.lit(100.0)).alias("totacctbal"),
        )
    )


_SCD2_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderdate AS valid_from, 0 AS src
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    changes AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.05 * 100) / 100 AS o_totalprice,
             o_orderdate + INTERVAL 30 DAY AS valid_from, 1 AS src
      FROM orders WHERE o_orderkey % 6 = 0
    ),
    unioned AS (SELECT * FROM base UNION ALL SELECT * FROM changes)
    SELECT o_orderkey, o_totalprice, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_orderkey
                                  ORDER BY valid_from, src) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY o_orderkey
                                  ORDER BY valid_from, src) IS NULL AS is_current
    FROM unioned
"""


@register("merge_upsert_scd2", sql=_SCD2_SQL)
def merge_upsert_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE as SCD TYPE 2 (full history): incoming changes don't
    overwrite — they CLOSE the current row (valid_to = successor's
    valid_from via LEAD) and open a new current one. One union + one
    window over the merge key; no table format needed — this is the
    plan Delta/Iceberg MERGE + history view compile to. At 100 TB the
    base side is partitioned on the key and only the change batch
    shuffles fully; ties broken by (valid_from, src) so both engines
    order identically."""
    o = T(spark, sf, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lit(0).alias("src"),
    )
    changes = o.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 1.05, 2).alias("o_totalprice"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("valid_from"),
        F.lit(1).alias("src"),
    )
    w = Window.partitionBy("o_orderkey").orderBy("valid_from", "src")
    nxt = F.lead("valid_from").over(w)
    return (
        base.unionByName(changes)
        .select(
            "o_orderkey",
            "o_totalprice",
            "valid_from",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
    )


# --------------------------------------------------------------------------
# Time-series linear interpolation (the missing half of ts_gapfill)
# --------------------------------------------------------------------------

_INTERP_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             ROUND(AVG(value) * 1e4) / 1e4 AS v
      FROM e GROUP BY event_type, DATE_TRUNC('hour', ts)
    ),
    bounds AS (
      SELECT DATE_TRUNC('hour', MIN(ts)) AS lo, DATE_TRUNC('hour', MAX(ts)) AS hi
      FROM e
    ),
    grid AS (
      SELECT t.event_type, UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN bounds
    ),
    joined AS (
      SELECT g.event_type, g.h, hourly.v,
             CAST(epoch_us(g.h) AS BIGINT) AS hus
      FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type
                                  AND g.h = hourly.h
    ),
    ctx AS (
      SELECT event_type, h, hus, v,
             LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN hus END IGNORE NULLS)
               OVER w_prev AS ph,
             FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hus END IGNORE NULLS)
               OVER w_next AS nh
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY hus
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY event_type ORDER BY hus
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hus AS hour_us,
           CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (hus - ph) / CAST(nh - ph AS DOUBLE)
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END * 1e4) / 1e4 AS v_interp
    FROM ctx
"""


@register("ts_interpolate_linear", sql=_INTERP_SQL)
def ts_interpolate_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Linear interpolation over time-series gaps — the numeric half of
    gap handling (ts_gapfill zero-fills counts; metrics need values ON
    the trend line). Dense hour grid (generated, bounds-sized), left
    join the observed hourly averages, then each missing hour takes
    pv + (nv-pv)·(t-tp)/(tn-tp) from the nearest observations on each
    side via IGNORE NULLS frame windows (edges fall back to ffill/
    bfill). One shuffle on event_type; both windows and the join share
    that partitioning. Interpolation runs on PRE-ROUNDED observed
    averages, so both engines interpolate identical inputs — the only
    float ops on unrounded data are the per-hour AVGs, rounded at 1e-4
    before use."""
    ev = T(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(dround(F.avg("value"), 4).alias("v"))
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
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    j = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", F.unix_micros("h").alias("hus"), "v"
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hus")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hus")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("hus"))
    ctx = j.select(
        "event_type",
        "hus",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(w_next).alias("nh"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hus") - F.col("ph"))
            / (F.col("nh") - F.col("ph")).cast("double"),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "event_type",
        F.col("hus").alias("hour_us"),
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("observed"),
        dround(interp, 4).alias("v_interp"),
    )


# --------------------------------------------------------------------------
# Iterative graph analytics: damped PageRank
# --------------------------------------------------------------------------


def _affinity_path(sf: str) -> str:
    from engine.session import artifact_path

    return artifact_path("affinity", sf, ("events",), "edges")


def materialize_affinity_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The affinity edge list, built once per input
    (:func:`engine.session.artifact`) and served from parquet to its
    seven graph-key consumers — a 100 TB graph pipeline derives its edge
    list once and never recomputes it per query. Oracles are untouched —
    they rebuild the same edges in SQL from events, so the
    materialization stays value-checked on every consumer key."""
    from engine.session import artifact

    def build(tmp: str) -> None:
        affinity_edges(spark, sf).write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(artifact(_affinity_path(sf), build))


def affinity_edge_parts(spark: SparkSession, sf: str) -> int:
    """Shuffle-partition target for relations DERIVED from the affinity
    edge list (guide §2.2 — fewer, larger partitions). The edge list is
    events-cohort-sized, orders of magnitude below the fact, but a
    cached derivation built under the session default (32) pins a
    32-to-64-partition layout that every downstream job then pays in
    task launches — AQE cannot re-coalesce a cached plan's output
    partitioning (`canChangeCachedPlanOutputPartitioning` is off by
    default, deliberately: several keys' declared tie semantics depend
    on stable cached layouts). Scale-adaptive: grows with the edge
    count (footer metadata, no Spark job) and is capped by the
    session's own shuffle parallelism, so a cluster-sized session keeps
    cluster-sized shuffles; falls back to the session default when
    footers are unreadable. Call after materialize_affinity_edges."""
    import pathlib

    import pyarrow.parquet as pq

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        rows = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in sorted(pathlib.Path(_affinity_path(sf)).rglob("*.parquet"))
        )
    except Exception:
        return cap
    return max(1, min(cap, rows // 20_000 + 1))


#: edge-count ceiling of the adaptive graph keys' driver path: the
#: COUNTED edge list (already orders of magnitude smaller than the raw
#: events) fits comfortably on the driver, so round after round of
#: join+agg scheduler latency collapses into an exact driver loop —
#: the driver-sized-state rule that lets k-means collect its means.
#: Above it the key's distributed fixpoint runs; both paths compute
#: the identical result (asserted in tests by forcing each path).
GRAPH_DRIVER_EDGES = 2_000_000


def driver_sized(edges: DataFrame) -> bool:
    """Whether ``edges`` is counted (one Spark job) at or under
    GRAPH_DRIVER_EDGES. The ceiling is read per call, so setting it to
    0 forces every adaptive graph key onto its distributed path."""
    return edges.count() <= GRAPH_DRIVER_EDGES


def loop_shuffles(spark: SparkSession, n: int, per: int):
    """:func:`engine.session.session_confs` block that right-sizes an
    iterative graph loop's shuffles to its graph: ``n // per + 2``
    partitions, at least 2 and capped by the session's own width.
    Fixed 32-way shuffles over a frontier orders of magnitude smaller
    than the fact are pure scheduler overhead × rounds. The DataFrame
    API has no per-exchange width short of extra repartition shuffles,
    so the loop holds the session conf; the driver contract runs
    queries sequentially on a session, so no other build sees it."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(2, min(cap, n // per + 2))
    return session_confs(spark, {"spark.sql.shuffle.partitions": str(width)})


def affinity_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic user-affinity multigraph shared by graph_pagerank
    and graph_bfs_reachability (engine.tableh): within each
    (event_type, day) cohort — users with >= 3 events that day (the
    sparsifier that makes degree vary per user) — users ordered by
    first occurrence form a ring, each pointing to the next. Mirrors
    AFFINITY_EDGES_CTE exactly; returns uncached (src, dst) rows —
    callers own caching."""
    ev = T(spark, sf, "events").withColumn("day", F.date_trunc("day", "ts"))
    w = Window.partitionBy("event_type", "day").orderBy("first_ts", "user_id")
    cohort = (
        ev.groupBy("event_type", "day", "user_id")
        .agg(F.min("ts").alias("first_ts"), F.count("*").alias("n_ev"))
        .filter(F.col("n_ev") >= 3)
        .withColumn("pos", F.row_number().over(w))
    )
    sized = cohort.withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type", "day"))
    )
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("b.pos") == (F.col("a.pos") % F.col("a.n")) + 1),
        )
        .filter(F.col("a.user_id") != F.col("b.user_id"))
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
    )


#: cohort-ring edge list as a reusable SQL CTE fragment (expects an
#: ``e`` CTE binding the canonical events relation before it) — single
#: source of truth for every oracle over the affinity graph
#: (graph_pagerank here, graph_bfs_reachability in engine.tableh).
AFFINITY_EDGES_CTE = """
    cohort AS (
      SELECT event_type, date_trunc('day', ts) AS day, user_id,
             MIN(ts) AS first_ts
      FROM e GROUP BY event_type, date_trunc('day', ts), user_id
      HAVING COUNT(*) >= 3
    ),
    pos AS (
      SELECT event_type, day, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY first_ts, user_id) AS pos,
             COUNT(*) OVER (PARTITION BY event_type, day) AS n
      FROM cohort
    ),
    edges AS (
      SELECT a.user_id AS src, b.user_id AS dst
      FROM pos a JOIN pos b
        ON a.event_type = b.event_type AND a.day = b.day
       AND b.pos = (a.pos % a.n) + 1
      WHERE a.user_id <> b.user_id
    )
"""

#: the whole 10-round computation in SQL: rebuild the cohort-ring graph
#: from events, start from the uniform 1/n and unroll every power-
#: iteration round as one contributions/ranks CTE pair — the same update
#: both Spark paths apply (multigraph edges each contribute; a dst that
#: is never a src is not a node and its mass is dropped)
_PAGERANK_SQL = (
    f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
    + AFFINITY_EDGES_CTE
    + """,
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS user_id FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT user_id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    + "".join(
        f""",
    c{i} AS (
      SELECT ed.dst, SUM(r.rank / d.deg) AS contrib
      FROM edges ed
      JOIN deg d ON ed.src = d.src
      JOIN r{i - 1} r ON ed.src = r.user_id
      GROUP BY ed.dst
    ),
    r{i} AS (
      SELECT n.user_id, 0.15 / nn.n + 0.85 * COALESCE(c.contrib, 0.0) AS rank
      FROM nodes n CROSS JOIN nn
      LEFT JOIN c{i} c ON n.user_id = c.dst
    )"""
        for i in range(1, 11)
    )
    + """
    SELECT user_id, ROUND(rank * 1e6) AS rank_ppm
    FROM r10
    ORDER BY rank_ppm DESC, user_id LIMIT 20
"""
)


@register("graph_pagerank", sql=_PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Damped PageRank (d=0.85, 10 iterations) over a user-affinity
    graph derived from events: within each (event_type, day) cohort,
    users ordered by first occurrence form a ring (each points to the
    next) — a deterministic multigraph where out-degree = #cohorts a
    user participated in, which varies per user, so the stationary
    distribution is non-uniform.

    ADAPTIVE physical strategy (the connected_components rule applied
    to power iteration): the edge list — already orders of magnitude
    smaller than the raw events — is counted first; when driver-sized
    it runs as a vectorized numpy loop (10 scheduler round-trips of
    join+agg latency collapse to milliseconds), otherwise the canonical
    iterative-Spark shape (same discipline as engine.kmeans): per
    iteration ONE join (ranks onto edges, partitioned on src) + ONE
    aggregation (contributions by dst) + a map — the driver loop
    carries only the iteration counter; ranks/edges never leave the
    cluster. Edges are cached once (tracked, freed after the query); at
    100 TB both sides pre-partition on user so the join is co-located
    every round. Both paths compute the identical iteration sequence
    (equality asserted in tests). Output: top-20 users by rounded rank,
    deterministic tie-break."""
    from engine.session import scratch_cache

    edges = scratch_cache(materialize_affinity_edges(spark, sf))
    if driver_sized(edges):
        ranks = _pagerank_driver(spark, edges)
    else:
        ranks = _pagerank_distributed(spark, edges)
    return (
        ranks.select("user_id", dround(F.col("rank") * 1e6, 0).alias("rank_ppm"))
        .orderBy(F.col("rank_ppm").desc(), "user_id")
        .limit(20)
    )


def _pagerank_driver(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """numpy power iteration over the collected edge list (multigraph:
    duplicate (src,dst) rows each carry their own contribution, exactly
    like the row-per-edge distributed aggregation). np.add.at applies
    updates in index order — deterministic across runs, unlike a
    shuffle-reduce whose float-sum order varies with fetch order."""
    import numpy as np
    import pandas as pd

    pdf = edges.toPandas()  # bounded by GRAPH_DRIVER_EDGES
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    node_ids = np.unique(src)
    n = node_ids.size
    sidx = np.searchsorted(node_ids, src)
    deg = np.bincount(sidx, minlength=n).astype(np.float64)
    pos = np.searchsorted(node_ids, dst)
    # dst that never appears as a src is not a node: its contributions
    # are dropped (the distributed path's nodes LEFT JOIN contribs)
    ok = (pos < n) & (node_ids[np.minimum(pos, n - 1)] == dst)
    dok = pos[ok]
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        w = r[sidx] / deg[sidx]
        contrib = np.zeros(n)
        np.add.at(contrib, dok, w[ok])
        r = 0.15 / n + 0.85 * contrib
    return spark.createDataFrame(
        pd.DataFrame({"user_id": node_ids, "rank": r})
    )


def _pagerank_distributed(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """The cluster-scale fixpoint: per iteration ONE join (ranks onto
    degree-annotated edges, partitioned on src) + ONE aggregation
    (contributions by dst) — the driver loop carries only the iteration
    counter; ranks/edges never leave the cluster."""
    from engine.session import scratch_cache

    # pre-join out-degree onto edges ONCE — it's loop-invariant (the
    # old formulation re-joined it all 10 rounds)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = scratch_cache(edges.join(out_deg, "src"))
    nodes = scratch_cache(edges.select(F.col("src").alias("user_id")).distinct())
    n_nodes = nodes.count()  # driver-sized: one long
    with loop_shuffles(spark, n_nodes, 5_000):
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        for _ in range(10):
            contribs = (
                edges_deg.join(ranks, edges_deg.src == ranks.user_id)
                .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = (
                nodes.join(contribs, nodes.user_id == contribs.dst, "left")
                .select(
                    "user_id",
                    (
                        F.lit(0.15 / n_nodes)
                        + 0.85 * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            # cut the lineage EAGERLY each round: with lazy checkpoints
            # the final action compiles all 10 rounds as one giant DAG
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


# --------------------------------------------------------------------------
# Pure range join at scale: time-bucket decomposition
# --------------------------------------------------------------------------

_RANGE_BUCKETED_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT a.event_id AS error_id, b.event_id AS purchase_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
    FROM e a JOIN e b
      ON a.event_type = 'error' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 MINUTE
"""


@register("join_range_bucketed", sql=_RANGE_BUCKETED_SQL)
def join_range_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Pure interval join (purchases within 60 s after an error) with NO
    equi key anywhere in the condition — the case that naively plans as
    a nested-loop/cartesian and dies at scale. The scale decomposition:
    quantize time into bucket = ⌊ts/60 s⌋; a match within 60 s can only
    land in the error's OWN bucket or the next one, so the left side
    explodes into those two bucket ids and the join becomes an
    EQUI-join on bucket with the exact range check as a residual.
    Cost: 2× left-side rows shuffled on a well-distributed key instead
    of |A|×|B| comparisons; generalizes to any band via
    ⌈band/bucket⌉+1 replicas. The oracle runs the naive formulation —
    the decomposition must be invisible in the result. Plan-gated: no
    nested loop, bucket id among the join keys."""
    bucket_us = 60_000_000
    ev = T(spark, sf, "events")
    a = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.unix_micros("ts").alias("a_us"),
        )
        .withColumn(
            "bkt",
            F.explode(
                F.array(
                    (F.col("a_us") / bucket_us).cast("long"),
                    (F.col("a_us") / bucket_us).cast("long") + 1,
                )
            ),
        )
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("b_us"),
        (F.unix_micros("ts") / bucket_us).cast("long").alias("bkt"),
    )
    return (
        a.join(b, "bkt")
        .filter(
            (F.col("b_us") >= F.col("a_us"))
            & (F.col("b_us") < F.col("a_us") + bucket_us)
        )
        .select(
            "error_id",
            "purchase_id",
            (F.col("b_us") - F.col("a_us")).alias("gap_us"),
        )
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity runs
# --------------------------------------------------------------------------

_ISLANDS_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    days AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d
      FROM e WHERE event_type IN ('purchase', 'signup')
    ),
    isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                 * INTERVAL 1 DAY AS anchor
      FROM days
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS run_days,
           MIN(d) AS run_start, MAX(d) AS run_end
    FROM isl GROUP BY user_id, anchor
    HAVING COUNT(*) >= 3
"""


@register("win_gaps_islands", sql=_ISLANDS_SQL)
def win_gaps_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (≥3 days), via the rownum-difference trick — consecutive dates
    minus their per-user row number collapse to one constant anchor, so
    islands fall out of a plain groupBy. No self-join, no iteration:
    one shuffle for the window, the groupBy reuses the same user
    partitioning. The calendar twin of win_sessionize_gap (which cuts
    on elapsed time, not calendar days)."""
    ev = T(spark, sf, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("anchor", F.date_sub("d", F.row_number().over(w)))
    return (
        isl.groupBy("user_id", "anchor")
        .agg(
            F.count("*").alias("run_days"),
            F.min("d").alias("run_start"),
            F.max("d").alias("run_end"),
        )
        .filter(F.col("run_days") >= 3)
        .drop("anchor")
    )


# --------------------------------------------------------------------------
# LATERAL correlated subquery (shared SQL text on both engines)
# --------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT seg.c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM (SELECT DISTINCT c_mktsegment FROM customer) seg,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders JOIN customer cu ON cu.c_custkey = o_custkey
      WHERE cu.c_mktsegment = seg.c_mktsegment
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
"""


@register("sub_lateral_topn", sql=_LATERAL_SQL)
def sub_lateral_topn(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY/LIMIT — the
    SQL-standard spelling of top-N-per-group; the IDENTICAL SQL text
    runs on both engines (ANSI LATERAL, Spark ≥3.2 and DuckDB both
    support it). Catalyst decorrelates this into the same
    rank-window/limit shape as win_topk_per_group — proof that the
    lateral syntax costs nothing vs the hand-written window. Ties
    broken by o_orderkey so both engines pick identical rows."""
    T(spark, sf, "customer").createOrReplaceTempView("customer")
    T(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# AQE runtime skew-join splitting, oracle-proven
# --------------------------------------------------------------------------

_AQE_SKEW_SQL = f"""
    WITH e AS (SELECT CASE WHEN user_id < 120 THEN 0 ELSE user_id END AS hot_key,
                      CAST(ROUND(value * 1e6) AS BIGINT) AS value_micros
               FROM ({EVENTS_US_SQL})),
    o AS (SELECT o_orderkey % 150 AS hot_key, o_orderpriority,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
          FROM orders)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(value_micros) / CAST(1e6 AS DOUBLE) AS value_sum,
           SUM(price_cents) / CAST(100 AS DOUBLE) AS price_sum
    FROM e JOIN o USING (hot_key)
    GROUP BY o_orderpriority
"""


@register("join_aqe_skew", sql=_AQE_SKEW_SQL)
def join_aqe_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime skew handling WITHOUT salting: 80% of events collapse
    onto one hot key; AQE's OptimizeSkewedJoin observes the actual
    shuffle-block sizes at stage boundary and SPLITS the oversized
    partition across reducers (SortMergeJoin(skew=true), plan-gated).
    The manual twin is join_salted_skew — this key shows the engine
    doing it adaptively, which is the default posture at 100 TB (no
    salt factor to mis-tune). Two prerequisites the demo encodes:
    (1) multiple MAP tasks (the split unit is a map output — a
    single-split input can't be skew-split), forced here by an upstream
    repartition since the toy files are one split, and (2) NO
    downstream operator requiring the join key's partitioning (the
    group key is o_orderpriority, not hot_key — grouping by the join
    key would veto the rule). AQE reads its skew thresholds when the
    query EXECUTES, so they come from the caller's session: at scale
    the stock AQE thresholds apply, and the plan gate
    (tests/test_plans.py) holds toy-scale ones (broadcast off, 2 KB
    skew threshold) around its collect. Sums run in exact integer
    units so the re-partitioned aggregation order can't change the
    result (which is the point: skew split must be invisible)."""
    ev = (
        T(spark, sf, "events")
        .repartition(16, "event_id")
        .select(
            F.when(F.col("user_id") < 120, 0)
            .otherwise(F.col("user_id"))
            .alias("hot_key"),
            dround(F.col("value") * 1e6, 0).cast("long").alias("value_micros"),
        )
    )
    o = (
        T(spark, sf, "orders")
        .repartition(8, "o_orderkey")
        .select(
            (F.col("o_orderkey") % 150).alias("hot_key"),
            "o_orderpriority",
            dround(F.col("o_totalprice") * 100, 0).cast("long").alias(
                "price_cents"
            ),
        )
    )
    return (
        ev.join(o, "hot_key")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum("value_micros") / F.lit(1e6)).alias("value_sum"),
            (F.sum("price_cents") / F.lit(100.0)).alias("price_sum"),
        )
    )


# --------------------------------------------------------------------------
# Exact distinct at scale via bitmaps; composite quality gate
# --------------------------------------------------------------------------

_BITMAP_SQL = """
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
    FROM lineitem GROUP BY l_returnflag
"""


@register("agg_bitmap_distinct", sql=_BITMAP_SQL)
def agg_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT distinct count via bitmap aggregation (Spark 3.5 bitmap_*
    family): keys bucket into 32k-bit bitmaps, per-bucket bitmaps OR
    together (partial-aggregable, mergeable), final count sums the set
    bits. This is the exact-COUNT(DISTINCT) scale path when HLL's
    approximation isn't acceptable: the shuffle carries fixed-size
    bitmaps, never the key stream, and bitmaps persist/merge across
    partitions or days like HLL sketches do (agg_hll_mergeable's exact
    twin). The oracle is plain COUNT(DISTINCT) — the bitmap machinery
    must be invisible."""
    li = T(spark, sf, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_suppkey))").alias("bm")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_supp")
    )


_QUALITY_GATE_SQL = """
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
               / LEN(STRING_SPLIT(text, ' ')) AS uniq_ratio
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_tokens < 15 THEN 'too_short'
                WHEN n_chars > 480 THEN 'too_long'
                WHEN uniq_ratio < 0.55 THEN 'repetitive'
                WHEN lang NOT IN ('en', 'de', 'fr') THEN 'lang_filtered'
                ELSE 'keep' END AS verdict,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(uniq_ratio * 1e4) / 1e4 AS uniq_ratio
    FROM scored
"""


@register("pipeline_quality_composite", sql=_QUALITY_GATE_SQL)
def pipeline_quality_composite(spark: SparkSession, sf: str) -> DataFrame:
    """The pretrain quality GATE as one operator: every document gets a
    verdict with a REASON CODE (first failing rule wins: length bounds →
    repetition → language), not just a boolean — reason distributions
    are how pipeline regressions get caught in production. All signals
    are native expressions computed in one projection over one scan; at
    100 TB this is a narrow map with zero shuffles (the verdict
    histogram downstream is a tiny aggregate)."""
    d = T(spark, sf, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tokens
    verdict = (
        F.when(n_tokens < 15, "too_short")
        .when(F.col("n_chars") > 480, "too_long")
        .when(uniq_ratio < 0.55, "repetitive")
        .when(~F.col("lang").isin("en", "de", "fr"), "lang_filtered")
        .otherwise("keep")
    )
    return d.select(
        "doc_id",
        verdict.alias("verdict"),
        n_tokens.cast("long").alias("n_tokens"),
        dround(uniq_ratio, 4).alias("uniq_ratio"),
    )


_GROUPING_ID_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("agg_grouping_flags", sql=_GROUPING_ID_SQL)
def agg_grouping_flags(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE with GROUPING() flags — the only correct way to tell a
    subtotal row from a row whose group key is genuinely NULL, which
    matters on THIS data: o_orderpriority has real NULLs, so the cube
    emits both a (status, NULL, g_prio=0) row (the null-priority group)
    and a (status, NULL, g_prio=1) row (the per-status subtotal) with
    different counts. Consumers keying on NULL alone silently merge
    them. Same partial-aggregable expansion as agg_cube underneath."""
    o = T(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        F.count("*").alias("cnt"),
    )


# --------------------------------------------------------------------------
# PII masking, whole-file ingestion, training-sequence packing
# --------------------------------------------------------------------------

_MASK_SQL = """
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             SUBSTR(text, 1, 40), '[A-Z]', 'X', 'g'),
             '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked_head,
           CAST(LENGTH(regexp_replace(SUBSTR(text, 1, 40), '[^0-9]', '', 'g'))
                AS BIGINT) AS n_digits
    FROM documents
"""


@register("text_pii_mask", sql=_MASK_SQL)
def text_pii_mask(spark: SparkSession, sf: str) -> DataFrame:
    """Data masking for redaction pipelines: Spark's mask() maps
    uppercase→X, lowercase→x, digits→n in one JVM-side pass (the
    pre-release step before text leaves a trust boundary), plus a
    digit-count audit column. The oracle mirrors mask() with three
    regexp_replace passes — same output, proving the masking contract is
    engine-portable. Narrow map, zero shuffles."""
    d = T(spark, sf, "documents")
    head = F.substring("text", 1, 40)
    return d.select(
        "doc_id",
        F.mask(head).alias("masked_head"),
        F.length(F.regexp_replace(head, "[^0-9]", "")).cast("long").alias(
            "n_digits"
        ),
    )


_PACK_SQL = """
    WITH toks AS (
      SELECT source, doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    off AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      FROM toks
    )
    SELECT source, CAST(start_off // 128 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM off GROUP BY source, seq_id
"""


@register("pipeline_pack_sequences", sql=_PACK_SQL)
def pipeline_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing: documents concatenate (in stable
    doc_id order) into fixed 128-token windows, each doc attributed to
    the window containing its start offset — the op that turns a
    filtered corpus into dense pretraining batches (padding waste is
    what it eliminates). Packing is PER SOURCE: the running-offset
    window partitions by source, so at 100 TB there is no global cumsum
    bottleneck — each source packs independently (and shards of a huge
    source would pack per shard). One shuffle on source; the rollup
    reuses that partitioning."""
    d = T(spark, sf, "documents")
    n_tok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = d.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
        (F.sum(n_tok).over(w) - n_tok).alias("start_off"),
    )
    return (
        off.groupBy(
            "source", F.floor(F.col("start_off") / 128).cast("long").alias("seq_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_WHOLETEXT_SQL = """
    SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_file, lang
    FROM documents WHERE doc_id % 5 = 0
"""


@register("scan_wholetext_docs", sql=_WHOLETEXT_SQL)
def scan_wholetext_docs(spark: SparkSession, sf: str) -> DataFrame:
    """One-document-per-file ingestion via the text source's wholetext
    mode — the shape real corpus drops arrive in (a directory of .txt
    files), where line-oriented reading would shred documents. Identity
    (doc_id, lang) rides in the FILENAME and is recovered with
    input_file_name() + regexp — the standard pattern when sidecar
    metadata doesn't exist. The oracle checks content length per doc
    against the source table, proving byte-faithful round trip. The
    fixture (one file per doc) is a test-harness builder like the
    streaming replay, built once per input (engine.session.artifact)."""
    import os

    from engine.session import artifact, artifact_path

    def build(tmp: str) -> None:
        rows = (
            T(spark, sf, "documents")
            .filter(F.col("doc_id") % 5 == 0)
            .select("doc_id", "lang", "text")
            .collect()  # fixture builder (bounded: 1 in 5 docs), not an operator
        )
        for r in rows:
            with open(os.path.join(tmp, f"doc_{r['doc_id']}_{r['lang']}.txt"), "w") as f:
                f.write(r["text"])

    out = artifact(artifact_path("wholetext", sf, ("documents",)), build)
    files = (
        spark.read.option("wholetext", True)
        .text(out, pathGlobFilter="*.txt")
        .select(F.input_file_name().alias("path"), "value")
    )
    return files.select(
        F.regexp_extract("path", r"doc_(\d+)_", 1).cast("long").alias("doc_id"),
        F.length("value").cast("long").alias("n_chars_file"),
        F.regexp_extract("path", r"doc_\d+_([a-z]+)\.txt", 1).alias("lang"),
    )


_FILTER_CLAUSE_SQL = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
             AS n_big,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderpriority
                                                    = '1-URGENT'), 0)
                 * 100) / 100 AS urgent_total,
           ROUND(COALESCE(AVG(o_totalprice) FILTER (WHERE o_orderpriority
                                                    IS NULL), 0)
                 * 100) / 100 AS nullprio_avg
    FROM orders GROUP BY o_orderstatus
"""


@register("agg_filter_clause", sql=_FILTER_CLAUSE_SQL)
def agg_filter_clause(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI aggregate FILTER clause — conditional aggregation as the
    standard spells it, one pass, no CASE WHEN scaffolding (and unlike
    SUM(CASE...0 END), FILTER keeps true NULL-when-empty semantics,
    COALESCEd explicitly here so both engines pin the empty-group
    value). Identical SQL text runs on both engines; the DataFrame side
    uses the same FILTER syntax through expr()."""
    o = T(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_all"),
        F.expr("COUNT(*) FILTER (WHERE o_totalprice > 200000)").alias("n_big"),
        dround(
            F.coalesce(
                F.expr(
                    "SUM(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT')"
                ),
                F.lit(0.0),
            ),
            2,
        ).alias("urgent_total"),
        dround(
            F.coalesce(
                F.expr("AVG(o_totalprice) FILTER (WHERE o_orderpriority IS NULL)"),
                F.lit(0.0),
            ),
            2,
        ).alias("nullprio_avg"),
    )


_OHLC_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
           ROUND(arg_min(value, ts) * 1e4) / 1e4 AS open,
           ROUND(MAX(value) * 1e4) / 1e4 AS high,
           ROUND(MIN(value) * 1e4) / 1e4 AS low,
           ROUND(arg_max(value, ts) * 1e4) / 1e4 AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM e GROUP BY 1, 2
"""


@register("ts_downsample_ohlc", sql=_OHLC_SQL)
def ts_downsample_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC downsampling (open/high/low/close per type × hour) — the
    canonical tick→bar compression, all four statistics in ONE
    partial-aggregable pass: open/close are min_by/max_by on the
    timestamp (argmin/argmax, no rank window), high/low plain extrema.
    Tie-correctness rides on event timestamps being unique per group
    (they are: microsecond event times); a production feed would
    tie-break on a sequence id exactly like agg_max_by does."""
    ev = T(spark, sf, "events")
    return (
        ev.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        )
        .agg(
            dround(F.min_by("value", "ts"), 4).alias("open"),
            dround(F.max("value"), 4).alias("high"),
            dround(F.min("value"), 4).alias("low"),
            dround(F.max_by("value", "ts"), 4).alias("close"),
            F.count("*").alias("n_ticks"),
        )
    )


_NOT_IN_TRAP_SQL = """
    WITH probe AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
    ),
    keys AS (
      SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                  ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      CAST((SELECT COUNT(*) FROM probe
            WHERE c_custkey NOT IN (SELECT k FROM keys)) AS BIGINT)
        AS not_in_cnt,
      CAST((SELECT COUNT(*) FROM probe p
            WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = p.c_custkey))
           AS BIGINT) AS not_exists_cnt
"""


@register("sub_not_in_null_trap", sql=_NOT_IN_TRAP_SQL)
def sub_not_in_null_trap(spark: SparkSession, sf: str) -> DataFrame:
    """The NOT IN null trap, pinned as an operator: when the subquery
    produces even ONE NULL, `x NOT IN (...)` is never true (three-valued
    logic — x <> NULL is unknown), so the count collapses to 0, while
    NOT EXISTS gives the answer people actually meant. Both engines
    implement the ANSI semantics identically — the oracle proves the
    engine does NOT 'helpfully' fix the trap. The NOT IN side plans as a
    null-aware anti join (Spark's NAAJ), the NOT EXISTS side as a plain
    left anti."""
    c = T(spark, sf, "customer").filter(F.col("c_custkey") % 100 == 0)
    o = T(spark, sf, "orders").select(
        F.when(F.col("o_orderkey") % 1000 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    c.createOrReplaceTempView("_probe")
    o.createOrReplaceTempView("_keys")
    return spark.sql(
        """
        SELECT
          CAST((SELECT COUNT(*) FROM _probe
                WHERE c_custkey NOT IN (SELECT k FROM _keys)) AS BIGINT)
            AS not_in_cnt,
          CAST((SELECT COUNT(*) FROM _probe p
                WHERE NOT EXISTS (SELECT 1 FROM _keys WHERE k = p.c_custkey))
               AS BIGINT) AS not_exists_cnt
        """
    )


_MAP_LAMBDA_SQL = """
    WITH base AS (
      SELECT doc_id,
             n_chars * 2 AS chars2,
             LEN(STRING_SPLIT(text, ' ')) * 2 AS toks2
      FROM documents
    ),
    ents AS (
      SELECT doc_id,
             LIST_FILTER([struct_pack(k := 'chars', v := chars2),
                          struct_pack(k := 'toks',  v := toks2)],
                         e -> e.v > 150) AS kept
      FROM base
    )
    SELECT doc_id,
           COALESCE(ARRAY_TO_STRING(
             LIST_TRANSFORM(kept, e -> CONCAT(e.k, '=', CAST(e.v AS VARCHAR))),
             ','), '') AS kept_map,
           CAST(LEN(kept) AS BIGINT) AS n_kept
    FROM ents
"""


@register("fn_map_lambda", sql=_MAP_LAMBDA_SQL)
def fn_map_lambda(spark: SparkSession, sf: str) -> DataFrame:
    """Map higher-order functions WITH a value-hash oracle (fn_map is
    rows-only): build a metrics map per document, transform_values,
    map_filter, then canonicalize the surviving entries to a sorted
    'k=v' string both engines can produce byte-identically (DuckDB has
    no native map lambdas — its oracle mirrors with list-of-struct
    lambdas, which is exactly what a map is underneath). Narrow
    expressions, zero shuffles."""
    d = T(spark, sf, "documents")
    n_tok = F.size(F.split("text", " "))
    m = F.create_map(
        F.lit("chars"), F.col("n_chars").cast("long"),
        F.lit("toks"), n_tok.cast("long"),
    )
    m2 = F.transform_values(m, lambda k, v: v * 2)
    m3 = F.map_filter(m2, lambda k, v: v > 150)
    ents = F.array_sort(F.map_entries(m3))
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(
                ents, lambda e: F.concat_ws("=", e["key"], e["value"].cast("string"))
            ),
            ",",
        ).alias("kept_map"),
        F.size(F.map_keys(m3)).cast("long").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# Grouped-map pandas transform, URL parsing, XML parsing
# --------------------------------------------------------------------------

_ZSCORE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type)
                 * 1e4) / 1e4 AS z
    FROM e
"""


@register("udf_pandas_grouped_map", sql=_ZSCORE_SQL)
def udf_pandas_grouped_map(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-MAP pandas transform (applyInPandas) — the missing
    quadrant of the declared UDF surface (scalar / grouped-agg / table
    fns exist): each event_type group arrives as ONE pandas DataFrame
    and returns a same-shape frame, here z-score normalization. The
    oracle computes identical semantics with window functions — which
    is also the honest scale note: when the kernel IS expressible as
    windows, windows win (no Python, no whole-group materialization);
    applyInPandas earns its place only for genuinely imperative
    per-group logic (model fits, dynamic programming). ddof=1 on both
    sides (pandas default == STDDEV_SAMP)."""
    import pandas as pd

    ev = T(spark, sf, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        z = (v - v.mean()) / v.std()  # ddof=1, matches STDDEV_SAMP
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": (z * 1e4).round() / 1e4,
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, z double"
    )


_URL_SQL = """
    WITH u AS (
      SELECT doc_id,
             CONCAT('https://', source, '.example.com/docs/', doc_id,
                    '?lang=', lang) AS url
      FROM documents
    )
    SELECT doc_id,
           SPLIT_PART(SPLIT_PART(url, '://', 2), '/', 1) AS host,
           CONCAT('/', SPLIT_PART(SPLIT_PART(SPLIT_PART(url, '://', 2), '?', 1),
                                  '/', 2),
                  '/', SPLIT_PART(SPLIT_PART(url, '?', 1), '/', -1)) AS path,
           SPLIT_PART(url, '?', 2) AS query,
           SPLIT_PART(SPLIT_PART(url, '?', 2), '=', 2) AS lang_param
    FROM u
"""


@register("fn_url_parse", sql=_URL_SQL)
def fn_url_parse(spark: SparkSession, sf: str) -> DataFrame:
    """URL decomposition with the native parse_url (HOST/PATH/QUERY +
    query-parameter extraction) — crawl-data hygiene ops (host-level
    dedup, per-domain quotas) start exactly here. DuckDB has no
    parse_url, so the oracle rebuilds each component with split_part —
    pinning that parse_url's contract matches naive string surgery on
    well-formed URLs."""
    d = T(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


_XML_SQL = """
    WITH x AS (
      SELECT doc_id,
             CONCAT('<doc id="', doc_id, '"><lang>', lang, '</lang><len>',
                    n_chars, '</len></doc>') AS xml
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(xml, '<lang>([a-z]+)</lang>', 1) AS lang,
           CAST(regexp_extract(xml, '<len>([0-9]+)</len>', 1) AS BIGINT)
             AS n_chars
    FROM x
"""


@register("fn_xml", sql=_XML_SQL)
def fn_xml(spark: SparkSession, sf: str) -> DataFrame:
    """XML ingestion via Spark 4's native from_xml — schema-on-read over
    an XML string column (the grown-up version of wiki_parse_lines'
    regexp surgery). The oracle extracts the same fields by regexp,
    proving the parser agrees with the textual content; at scale
    from_xml beats regexp by handling nesting/escaping correctly."""
    d = T(spark, sf, "documents")
    xml = F.concat(
        F.lit('<doc id="'), F.col("doc_id"), F.lit('"><lang>'), F.col("lang"),
        F.lit("</lang><len>"), F.col("n_chars"), F.lit("</len></doc>"),
    )
    parsed = F.from_xml(xml, "lang STRING, len LONG")
    return d.select(
        "doc_id",
        parsed["lang"].alias("lang"),
        parsed["len"].alias("n_chars"),
    )


_INTERSECT_ALL_SQL = """
    WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0),
    b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0)
    SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT p FROM a INTERSECT ALL SELECT p FROM b
    ) GROUP BY p
"""


@register("set_intersect_all", sql=_INTERSECT_ALL_SQL)
def set_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT ALL — bag (multiset) semantics: each value survives
    min(count_a, count_b) times, vs the set-semantics INTERSECT that
    collapses to one (set_intersect pins that variant). The engine plans
    this as an aggregate of per-side counts, not a distinct-then-join —
    the distinction matters whenever multiplicity is data (inventory
    reconciliation, token-bag overlap)."""
    o = T(spark, sf, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderpriority").alias("p")
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderpriority").alias("p")
    )
    return a.intersectAll(b).groupBy("p").agg(F.count("*").alias("n"))


_NTH_VALUE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT user_id,
           CAST(MAX(CASE WHEN rn = 3 THEN event_id END) AS BIGINT)
             AS third_event_id,
           ROUND(MAX(CASE WHEN rn = 3 THEN value END) * 1e4) / 1e4
             AS third_value
    FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM e
    ) GROUP BY user_id HAVING COUNT(*) >= 3
"""


@register("win_nth_value", sql=_NTH_VALUE_SQL)
def win_nth_value(spark: SparkSession, sf: str) -> DataFrame:
    """nth_value over an ordered per-user frame (the third event each
    user ever emitted — onboarding-funnel analytics). Spark's nth_value
    needs the full-partition frame to see ahead; the oracle states the
    same thing via the rank-then-pick identity. Ties broken by event_id
    on both engines."""
    ev = T(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cnt = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            F.nth_value("event_id", 3).over(w).alias("third_event_id"),
            dround(F.nth_value("value", 3).over(w), 4).alias("third_value"),
            F.count("*").over(cnt).alias("n"),
        )
        .filter(F.col("n") >= 3)
        .drop("n")
        .distinct()
    )


_E2E_SQL = """
    WITH gated AS (
      SELECT doc_id, source, text,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 15
        AND n_chars <= 480
        AND LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
            / LEN(STRING_SPLIT(text, ' ')) >= 0.55
    ),
    deduped AS (
      SELECT doc_id, source, n_tok FROM (
        SELECT doc_id, source, n_tok,
               ROW_NUMBER() OVER (PARTITION BY LOWER(TRIM(text))
                                  ORDER BY doc_id) AS rn
        FROM gated) t
      WHERE rn = 1
    ),
    packed AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS off
      FROM deduped
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT off // 128) AS BIGINT) AS n_sequences
    FROM packed GROUP BY source
"""


@register("pipeline_e2e_pretrain", sql=_E2E_SQL)
def pipeline_e2e_pretrain(spark: SparkSession, sf: str) -> DataFrame:
    """The WHOLE pretrain data pipeline as one declarative DAG: quality
    gate (length bounds + repetition) → exact dedup (keep lowest doc_id
    per normalized text) → 128-token sequence packing → per-source
    yield stats. No materialization between stages — Catalyst fuses the
    gate into the scan, the dedup window and packing window both
    partition within one shuffle family, and the rollup reuses the
    packing partitioning. This is the engine's thesis in one query: the
    pipeline steps exist as individually-oracled operators, and their
    COMPOSITION stays a single optimized plan instead of four
    checkpointed jobs."""
    d = T(spark, sf, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    uniq = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tok
    gated = d.filter(
        (n_tok >= 15) & (F.col("n_chars") <= 480) & (uniq >= 0.55)
    ).select("doc_id", "source", "text", n_tok.alias("n_tok"))
    wdup = Window.partitionBy(F.lower(F.trim(F.col("text")))).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
    )
    woff = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = deduped.select(
        "source",
        "n_tok",
        (F.sum("n_tok").over(woff) - F.col("n_tok")).alias("off"),
    )
    return packed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_distinct(F.floor(F.col("off") / 128)).alias("n_sequences"),
    )


_MULTI_DISTINCT_SQL = """
    SELECT CAST(COUNT(DISTINCT CASE WHEN o_orderstatus IS NOT NULL
                                     AND o_orderpriority IS NOT NULL
                                    THEN o_orderstatus || '|' || o_orderpriority
                               END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
"""


@register("agg_count_distinct_multi", sql=_MULTI_DISTINCT_SQL)
def agg_count_distinct_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT a, b) — with the ANSI footgun pinned:
    a row where ANY of the columns is NULL is EXCLUDED from the distinct
    count (o_orderpriority has real NULLs, so (status, NULL) pairs
    vanish), which surprises anyone expecting NULL-as-a-value grouping
    semantics. Same expansion as single-column distinct underneath:
    dedup shuffle then count, partial-aggregable."""
    o = T(spark, sf, "orders")
    return o.agg(
        F.count_distinct("o_orderstatus", "o_orderpriority").alias("n_pairs"),
        F.count_distinct("o_orderstatus").alias("n_status"),
        F.count("*").alias("n_rows"),
    )


def _malformed_csv_path(sf: str) -> str:
    from engine.session import artifact_path

    return artifact_path("csv_malformed", sf, ("orders",))


#: rows of the malformed-CSV fixture whose price is not a number
_CSV_BAD_ROWS = 10


def _malformed_csv_dir(spark: SparkSession, sf: str) -> str:
    """Fixture: orders slice as CSV + _CSV_BAD_ROWS rows whose price
    column is not a number (field count intact — the parser must flag,
    not skip)."""
    import os

    from engine.session import artifact

    def build(tmp: str) -> None:
        rows = (
            T(spark, sf, "orders")
            .filter(F.col("o_orderkey") % 20 == 0)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .collect()  # fixture builder (1 in 20 orders), not an operator
        )
        with open(os.path.join(tmp, "part-000.csv"), "w") as f:
            for r in rows:
                f.write(f"{r['o_orderkey']},{r['o_orderstatus']},{r['o_totalprice']}\n")
            for i in range(_CSV_BAD_ROWS):
                f.write(f"{900000000 + i},X,not_a_number_{i}\n")

    return artifact(_malformed_csv_path(sf), build)


#: the fixture's good rows are the 1-in-20 orders slice, written with
#: each price's round-trip repr, plus _CSV_BAD_ROWS unparseable ones —
#: so the audit triple follows from the source table alone
_CSV_MALFORMED_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({_CSV_BAD_ROWS} AS BIGINT) AS n_corrupt,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             / CAST(100 AS DOUBLE) AS good_total
    FROM orders WHERE o_orderkey % 20 = 0
"""


@register("scan_csv_malformed", sql=_CSV_MALFORMED_SQL)
def scan_csv_malformed(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-input robustness — the ingestion property that decides
    whether one bad row kills a 100 TB load: PERMISSIVE mode parses what
    it can, NULLs what it can't, and captures the raw line in
    _corrupt_record for quarantine (FAILFAST is the other posture; the
    engine makes the choice explicit, never silent row-dropping). Output
    is the audit triple (good count, corrupt count, good total in exact
    cents); the oracle classifies the same file via TRY_CAST."""
    path = _malformed_csv_dir(spark, sf)
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("s", StringType()),
            StructField("p", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # SPARK-38523: corrupt-record queries need materialization
    )
    out = raw.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).alias(
            "n_good"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        (
            F.sum(dround(F.col("p") * 100, 0).cast("long")) / F.lit(100.0)
        ).alias("good_total"),
    )
    return out


_DATASET_CARD_SQL = """
    WITH t AS (
      SELECT source, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    lang_dist AS (
      SELECT source, lang, COUNT(*) AS c FROM t GROUP BY source, lang
    ),
    totals AS (
      SELECT source, SUM(c) AS tot FROM lang_dist GROUP BY source
    ),
    ent AS (
      SELECT ld.source,
             ROUND(SUM(-(c * 1.0 / tot) * LN(c * 1.0 / tot)) * 1e4) / 1e4
               AS lang_entropy,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM lang_dist ld JOIN totals ON ld.source = totals.source
      GROUP BY ld.source
    ),
    tok AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
             ROUND(MEDIAN(n_tok) * 100) / 100 AS median_tokens,
             CAST(MAX(n_tok) AS BIGINT) AS max_tokens
      FROM t GROUP BY source
    )
    SELECT tok.source, n_docs, total_tokens, min_tokens, median_tokens,
           max_tokens, n_langs, lang_entropy
    FROM tok JOIN ent ON tok.source = ent.source
"""


@register("pipeline_dataset_card", sql=_DATASET_CARD_SQL)
def pipeline_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """The dataset CARD per source — the datasheet every corpus release
    ships: volume (docs, tokens), length distribution (min/median/max),
    and language diversity (count + Shannon entropy of the language
    mix). Two aggregation families share the source partitioning (token
    rollup; language histogram → entropy), joined at source granularity
    — at 100 TB this is two partial-aggregable passes over one scan and
    a tiny join. Entropy terms are probabilities of the SAME integer
    counts on both engines, rounded at 1e-4."""
    d = T(spark, sf, "documents")
    n_tok = F.size(F.split("text", " "))
    t = d.select("source", "lang", n_tok.alias("n_tok"))
    tok = t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min("n_tok").cast("long").alias("min_tokens"),
        dround(F.median("n_tok"), 2).alias("median_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )
    ld = t.groupBy("source", "lang").agg(F.count("*").alias("c"))
    p = F.col("c") / F.sum("c").over(Window.partitionBy("source"))
    ent = (
        ld.select("source", (-p * F.log(p)).alias("term"))
        .groupBy("source")
        .agg(dround(F.sum("term"), 4).alias("lang_entropy"), F.count("*").alias("n_langs"))
    )
    return tok.join(ent, "source").select(
        "source", "n_docs", "total_tokens", "min_tokens", "median_tokens",
        "max_tokens", "n_langs", "lang_entropy",
    )


# --------------------------------------------------------------------------
# Dynamic partition overwrite: the incremental backfill primitive
# --------------------------------------------------------------------------

_DYN_OVERWRITE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    agg AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2
    ),
    corr AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e WHERE value > 0 AND CAST(DATE_TRUNC('day', ts) AS DATE)
                                 = DATE '2024-01-15'
      GROUP BY 1, 2
    )
    SELECT day, event_type, n FROM agg WHERE day <> DATE '2024-01-15'
    UNION ALL
    SELECT day, event_type, n FROM corr
"""


@register("sink_partition_overwrite_dynamic", sql=_DYN_OVERWRITE_SQL)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental backfill via DYNAMIC partition overwrite: the daily
    table is fully materialized once, then ONE day is rewritten with
    corrected data — with partitionOverwriteMode=dynamic only the
    partitions present in the incoming frame are replaced, every other
    day's files survive untouched (static mode would truncate the whole
    table — the classic backfill disaster). This is the no-table-format
    ancestor of MERGE/replaceWhere; at 100 TB the rewrite cost is one
    day, not the lake. The oracle computes the expected post-backfill
    state directly from the source."""
    import os

    from engine.session import data_fingerprint, scratch_dir

    tag = (
        sf_tag(sf)
        + "_"
        + data_fingerprint(sf, "events")
    )
    out = scratch_dir("dyn_overwrite") + f"/{tag}"
    ev = T(spark, sf, "events")
    day = F.date_trunc("day", "ts").cast("date")
    agg = ev.groupBy(day.alias("day"), F.col("event_type")).agg(
        F.count("*").alias("n")
    )
    # full load (static overwrite: the whole table)
    agg.write.mode("overwrite").partitionBy("day").parquet(out)
    # backfill one day from corrected data — dynamic mode replaces ONLY
    # the day=2024-01-15 directory
    corr = (
        ev.filter((F.col("value") > 0) & (day == F.lit("2024-01-15").cast("date")))
        .groupBy(day.alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    overwrite = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with session_confs(spark, overwrite):
        corr.write.mode("overwrite").partitionBy("day").parquet(out)
    back = spark.read.parquet(out)
    return back.select("day", "event_type", "n")


_SPLIT_SQL = """
    WITH assigned AS (
      SELECT source, doc_id,
             CASE WHEN doc_id % 100 < 80 THEN 'train'
                  WHEN doc_id % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM assigned GROUP BY source, split
"""


@register("sample_split_train_eval", sql=_SPLIT_SQL)
def sample_split_train_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — the split
    every training pipeline needs, as a PURE FUNCTION of the document id
    (same doc lands in the same split on any engine, any cluster size,
    any day — rand()-based randomSplit can't promise any of that, and
    leaking a doc across splits is the canonical eval bug). Here the
    assignment key is doc_id mod 100 so the oracle can mirror it
    exactly; production swaps in pmod(xxhash64(doc_id, seed), 100) for
    the same determinism with hash diffusion — one narrow map either
    way, zero shuffles before the audit rollup."""
    d = T(spark, sf, "documents")
    bucket = F.col("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("source", "doc_id", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


_Q20_SQL = """
    WITH avail AS (
      SELECT l_suppkey AS sk, l_partkey AS pk, SUM(l_quantity) AS availqty
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    demand AS (
      SELECT l_suppkey AS sk, l_partkey AS pk, SUM(l_quantity) AS qty96
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_4')
      AND s_suppkey IN (
        SELECT avail.sk
        FROM avail JOIN demand ON avail.sk = demand.sk AND avail.pk = demand.pk
        WHERE avail.pk IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND avail.availqty > 0.5 * demand.qty96
      )
"""


@register("q20_potential_promotion", sql=_Q20_SQL)
def q20_potential_promotion(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp / availqty in the testdata, so
    'stock on hand' derives from pre-1996 shipments): suppliers in two
    target nations whose on-hand quantity of red parts exceeds half
    their 1996 demand. The doubly-nested IN subqueries decorrelate into
    two grouped aggregates over the SAME fact scan joined on
    (suppkey, partkey) — co-partitioned, so the pair-join after the two
    aggs is shuffle-free under AQE; the red-part filter is a broadcast
    semi-join; the final supplier membership test is a semi-join against
    a by-then tiny key set. l_quantity is integer-valued, so SUM and the
    0.5* comparison are exact in IEEE double on both engines."""
    li = T(spark, sf, "lineitem").select("l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
    red = F.broadcast(
        T(spark, sf, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    )
    li_red = li.join(red, li.l_partkey == red.p_partkey, "left_semi")
    avail = (
        li_red.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("availqty"))
    )
    demand = (
        li_red.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_suppkey").alias("d_suppkey"), F.col("l_partkey").alias("d_partkey")
        )
        .agg(F.sum("l_quantity").alias("qty96"))
    )
    qualifying = (
        avail.join(
            demand,
            (avail.l_suppkey == demand.d_suppkey) & (avail.l_partkey == demand.d_partkey),
        )
        .filter(F.col("availqty") > 0.5 * F.col("qty96"))
        .select(F.col("l_suppkey").alias("q_suppkey"))
        .distinct()
    )
    na = F.broadcast(
        T(spark, sf, "nation").filter(F.col("n_name").isin("NATION_3", "NATION_4"))
    )
    return (
        T(spark, sf, "supplier")
        .join(na, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("q_suppkey"), "left_semi")
        .select("s_name", "n_name")
    )


_Q21_SQL = """
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 365 DAY
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l1 l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
"""


@register("q21_suppliers_kept_waiting", sql=_Q21_SQL)
def q21_suppliers_kept_waiting(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates in the testdata, so
    'late' = shipped more than a year after the order date): per
    supplier, the finalized multi-supplier orders where THIS supplier
    was the only late one. The EXISTS becomes a left-semi join (same
    order, different supplier) and the NOT EXISTS a left-anti join
    against the late set itself — both shuffle on l_orderkey, the same
    key the late set was deduped on, so the three hash exchanges line up
    and AQE reuses the partitioning. supplier/nation are broadcast; no
    correlated per-row subquery ever executes."""
    o = T(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAY"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = li.select(
        F.col("l_orderkey").alias("p_orderkey"), F.col("l_suppkey").alias("p_suppkey")
    ).distinct()
    sole_late = (
        late.join(
            pairs,
            (late.l_orderkey == pairs.p_orderkey) & (late.l_suppkey != pairs.p_suppkey),
            "left_semi",
        )
        .join(
            late.select(
                F.col("l_orderkey").alias("x_orderkey"),
                F.col("l_suppkey").alias("x_suppkey"),
            ),
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "left_anti",
        )
    )
    na = F.broadcast(
        T(spark, sf, "nation").filter(
            F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2")
        )
    )
    su = F.broadcast(
        T(spark, sf, "supplier")
        .join(na, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        sole_late.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


_TRIANGLES_SQL = """
    WITH cohort AS (
      SELECT event_type, date_trunc('day', ts) AS day, user_id
      FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
    ),
    pairs AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cohort a JOIN cohort b ON a.event_type = b.event_type AND a.day = b.day
      WHERE a.user_id < b.user_id
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS user_id FROM tri)
    GROUP BY user_id
"""


@register("graph_triangles", sql=_TRIANGLES_SQL)
def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user triangle participation over the same user-affinity graph
    as graph_pagerank's cohorts (users sharing a (event_type, day)
    cohort with >= 3 events each are connected). Triangle counts are
    orientation-invariant, so the oracle uses the textbook u < v
    3-way self-join while the Spark plan runs COMPACT-FORWARD: every
    edge is oriented from its lower-(degree, id) endpoint to the
    higher, wedges are enumerated only at each triangle's minimum
    vertex in that total order, and closure is one equi-join back into
    the oriented edge set. That orientation is THE scale trick — wedge
    count drops from sum(deg^2) over hub vertices to near-optimal
    (arboricity-bounded), because hubs (the skewed keys at 100 TB)
    become wedge ENDPOINTS, never wedge centers. Three shuffles total:
    edge dedup, the wedge self-join on the center, the closure join on
    the (b, c) pair.

    SCALE POLICY (r10, retiring the r9 `weak` mark): the enumeration
    plan above scales — it absorbed a ~1000× triangle blow-up in 27×
    wall at the r9 sf1x decade test — but the cohort-CLIQUE edge
    CONSTRUCTION here is quadratic in cohort size (105.8× edges for
    10× users, measured), and it is pinned as these keys' SEMANTICS by
    the oracle. This key is therefore the BOUNDED-COHORT variant: run
    it when cohorts are known small (the contract fixtures) or after
    an upstream cohort-size cap. The 100 TB DEFAULT is
    `graph_triangles_banded` (engine/tableo.py): same cohorts, edges
    only within _BAND=8 positions of the deterministic cohort order —
    linear edge growth, measured 1.7× at the same blow-up."""
    ev = T(spark, sf, "events")
    cohort = (
        ev.select("event_type", F.date_trunc("day", "ts").alias("day"), "user_id")
        .groupBy("event_type", "day", "user_id")
        .agg(F.count("*").alias("n_ev"))
        .filter(F.col("n_ev") >= 3)
        .drop("n_ev")
    )
    a, b = cohort.alias("a"), cohort.alias("b")
    und = (
        a.join(b, ["event_type", "day"])
        .filter(F.col("a.user_id") < F.col("b.user_id"))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("user_id"))
        .unionAll(und.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("user_id").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("user_id").alias("v"), F.col("deg").alias("deg_v"))
    # orient low-(deg, id) -> high-(deg, id); carry the dst's rank key so
    # the wedge's (b, c) ordering needs no extra degree join
    lt_uv = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lt_uv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lt_uv, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lt_uv, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
        )
    )
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("deg_dst").alias("deg_b")
    )
    o2 = oriented.select(
        F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("deg_dst").alias("deg_c")
    )
    wedges = o1.join(o2, o1.a == o2.a2).filter(
        (F.col("deg_b") < F.col("deg_c"))
        | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
    )
    closer = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closer, ["b", "c"], "left_semi").select("a", "b", "c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_triangles"))
    )


_EWMA_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 / COUNT(*), 6)
               AS mean_v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(list_reduce(list(CAST(mean_v AS DOUBLE) ORDER BY h),
                             (acc, x) -> 0.7 * acc + 0.3 * x), 4) AS ewma
    FROM hourly GROUP BY event_type
"""


@register("ts_ewma", sql=_EWMA_SQL)
def ts_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average per event type over the
    hourly mean series — the classic smoothing that SQL windows cannot
    express (EWMA is a sequential recurrence, not a frame aggregate).
    Implemented as an ORDERED FOLD: collect the per-type hourly series
    (bounded: hours-per-type, thousands of elements at any corpus
    size — the fold is over the TIME dimension, not rows), sort once,
    and F.aggregate() the recurrence acc <- 0.7*acc + 0.3*x. Both
    engines fold identical ROUND-ed doubles in identical order with
    identical IEEE ops, so the result is bit-reproducible — the inner
    hourly mean is an exact integer-cents sum, never a float SUM race.
    At 100 TB the hourly pre-aggregation is the data-sized step (one
    partial-agg shuffle); the fold touches only the tiny series."""
    ev = T(spark, sf, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            dround(
                F.sum(dround(F.col("value") * 100, 0).cast("long")) / F.lit(100.0)
                / F.count("*"),
                6,
            ).alias("mean_v")
        )
    )
    series = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.array_sort(F.collect_list(F.struct("h", "mean_v"))).alias("s"),
    )
    vals = F.transform(F.col("s"), lambda e: e["mean_v"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.7) * acc + F.lit(0.3) * x,
    )
    return series.select(
        "event_type", "n_hours", dround(ewma, 4).alias("ewma")
    )


@register(
    "scan_observe_metrics",
    sql="""
    SELECT COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty,
           MAX(l_extendedprice) AS max_price,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returns
    FROM lineitem
    """,
)
def scan_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline observability: `df.observe()` attaches accumulator-backed
    metrics to the ONE existing pass over the data — row counts, quality
    counters, value bounds come back with the action, with no second
    scan. At 100 TB a separate "count the rows we processed" query is a
    second full-table read; observe() makes the audit free. The observed
    metrics (count / sum / max / conditional count) are returned as the
    result row and oracle-checked against the direct aggregate, proving
    the accumulator path computes exactly what the batch agg computes.

    sum_qty stays exact across engines because l_quantity is
    integer-valued (doubles are exact integers < 2^53, any add order);
    n_returns is the count_if pattern with the oracle-side BIGINT cast
    (DuckDB types SUM(CASE…) as HUGEINT — the r2 lesson).
    """
    from pyspark.sql import Observation

    obs = Observation("scan_metrics")
    li = T(spark, sf, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("n_returns"),
    )
    # the action that populates the observation IS the pipeline's own
    # pass (noop sink = full materialization, nothing collected)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return tiny_df(
        spark,
        [(m["n_rows"], m["sum_qty"], m["max_price"], m["n_returns"])],
        "n_rows long, sum_qty double, max_price double, n_returns long",
    )


@register(
    "agg_corr_matrix",
    sql="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice) * 1e6) / 1e6 + 0.0
             AS corr_qty_price,
           ROUND(CORR(l_quantity, l_discount) * 1e6) / 1e6 + 0.0
             AS corr_qty_disc,
           ROUND(CORR(l_extendedprice, l_discount) * 1e6) / 1e6 + 0.0
             AS corr_price_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group pairwise correlation matrix (the EDA primitive before
    feature selection). Each corr is one partial-aggregable moment
    bundle — the whole matrix is ONE pass over the fact table, no
    per-pair rescans. `+ 0.0` after rounding normalizes -0.0 on both
    engines (the agg_regression signed-zero lesson); the isnan guard
    maps Spark's NaN (zero-variance or <2-row group) to NULL, which is
    what DuckDB's CORR yields there — latent divergence otherwise if
    the fixture ever grows a degenerate group (ADVICE r3)."""
    li = T(spark, sf, "lineitem")

    def corr_col(a: str, b: str, alias: str):
        c = F.corr(a, b)
        return (
            F.when(F.isnan(c), F.lit(None).cast("double"))
            .otherwise(dround(c, 6) + F.lit(0.0))
            .alias(alias)
        )

    return (
        li.groupBy("l_returnflag")
        .agg(
            corr_col("l_quantity", "l_extendedprice", "corr_qty_price"),
            corr_col("l_quantity", "l_discount", "corr_qty_disc"),
            corr_col("l_extendedprice", "l_discount", "corr_price_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "pipeline_chunk_overlap",
    sql="""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, u.i AS chunk_id,
             toks[u.i * 48 + 1 : u.i * 48 + 64] AS chunk
      FROM t, UNNEST(GENERATE_SERIES(0, (LEN(toks) - 1) // 48)) AS u(i)
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(LEN(chunk) AS INT) AS n_tokens,
           ARRAY_TO_STRING(chunk, ' ') AS chunk_text
    FROM c
    """,
)
def pipeline_chunk_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping-window chunking (window 64 tokens, stride 48 → 16
    tokens of overlap): the step between cleaned documents and an
    embedding/training pass, where context windows are fixed and
    boundaries must not lose cross-chunk context. One narrow pass —
    the windows are computed per row with array slices (no shuffle, no
    self-join); at 100 TB this pipelines straight into the tokenizer
    UDF with chunking cost amortized into the same scan."""
    d = T(spark, sf, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0).cast("long"), F.floor((n - 1) / 48))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(toks, (i * 48 + 1).cast("int"), 64).alias("chunk"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.chunk").alias("n_tokens"),
            F.concat_ws(" ", "c.chunk").alias("chunk_text"),
        )
    )


_EXCEPT_ALL_SQL = """
    SELECT p, COUNT(*) AS n FROM (
      SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0
      EXCEPT ALL
      SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0
    ) GROUP BY p
"""


@register("set_except_all", sql=_EXCEPT_ALL_SQL)
def set_except_all(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT ALL — bag (multiset) difference: each value survives
    max(count_a - count_b, 0) times, the multiplicity-preserving dual of
    set_except (which collapses to distinct). Completes the set-family
    quadrants (union/union_all/intersect/intersect_all/except/
    except_all); like intersect_all, the engine plans per-side counts,
    not a distinct-then-anti-join."""
    o = T(spark, sf, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderpriority").alias("p")
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderpriority").alias("p")
    )
    return a.exceptAll(b).groupBy("p").agg(F.count("*").alias("n"))


_WIN_DISTINCT_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_id,
           CAST(COUNT(DISTINCT user_id) OVER (
             PARTITION BY event_type
             ORDER BY ts, event_id
             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
           ) AS INT) AS distinct_users_100
    FROM e
"""


@register("win_distinct_rolling", sql=_WIN_DISTINCT_SQL)
def win_distinct_rolling(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct count over a trailing window frame (rolling unique-user
    audience). Spark has no COUNT(DISTINCT) OVER — the native-expression
    workaround is collect_list over the frame → array_distinct → size,
    checked here against DuckDB's first-class windowed distinct. State
    is bounded by the frame (100 rows per partition position), so the
    trick scales; the tie-broken ORDER BY (ts, event_id) makes the
    row-frame deterministic under duplicate timestamps on both engines."""
    from engine.session import load_events

    ev = load_events(spark, sf)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return ev.select(
        "event_id",
        F.size(F.array_distinct(F.collect_list("user_id").over(w))).alias(
            "distinct_users_100"
        ),
    )


_ASOF_NEAREST_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    v AS (SELECT event_id AS view_id, user_id, ts AS vts
          FROM e WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
          FROM e WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.purchase_id, p.user_id, v.view_id,
             ABS(EPOCH_US(p.pts) - EPOCH_US(v.vts)) AS gap_us,
             ROW_NUMBER() OVER (
               PARTITION BY p.purchase_id
               ORDER BY ABS(EPOCH_US(p.pts) - EPOCH_US(v.vts)),
                        CASE WHEN v.vts <= p.pts THEN 0 ELSE 1 END,
                        CASE WHEN v.vts <= p.pts THEN -v.view_id
                             ELSE v.view_id END
             ) AS rn
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT purchase_id, user_id, view_id, CAST(gap_us AS BIGINT) AS gap_us
    FROM cand WHERE rn = 1
"""


@register("join_asof_nearest", sql=_ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-event as-of join (either direction, completing the
    backward/forward/tolerance family): each purchase pairs with the
    user's view closest in time. Same O(n log n) union-window
    formulation as join_asof — ONE sort per user carries the latest
    prior view forward AND the next following view backward; the
    n²-per-user candidate join lives only in the oracle. Ties: equal
    gap prefers the backward view (the one already seen); equal
    timestamps within a side resolve by the window sort order (highest
    view_id backward, lowest forward) — mirrored exactly in the
    oracle's CASE tie-breaks."""
    from engine.session import load_events

    e = load_events(spark, sf)
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("vid"),
        F.unix_micros("ts").alias("vus"),
        F.lit(None).cast("long").alias("pid"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("vid"),
        F.lit(None).cast("long").alias("vus"),
        F.col("event_id").alias("pid"),
    )
    ordered = Window.partitionBy("user_id").orderBy(
        "ts", "kind", F.coalesce("vid", "pid")
    )
    wb = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u = v.unionByName(p).select(
        "*",
        F.last("vid", ignorenulls=True).over(wb).alias("b_vid"),
        F.last("vus", ignorenulls=True).over(wb).alias("b_vus"),
        F.first("vid", ignorenulls=True).over(wf).alias("f_vid"),
        F.first("vus", ignorenulls=True).over(wf).alias("f_vus"),
    )
    pur = u.filter(F.col("kind") == 1).select(
        F.col("pid").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
        "b_vid",
        "b_vus",
        "f_vid",
        "f_vus",
    )
    gap_b = F.col("pus") - F.col("b_vus")
    gap_f = F.col("f_vus") - F.col("pus")
    take_b = F.col("f_vid").isNull() | (
        F.col("b_vid").isNotNull() & (gap_b <= gap_f)
    )
    return (
        pur.filter(F.col("b_vid").isNotNull() | F.col("f_vid").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            F.when(take_b, F.col("b_vid")).otherwise(F.col("f_vid")).alias("view_id"),
            F.when(take_b, gap_b).otherwise(gap_f).alias("gap_us"),
        )
    )


# --------------------------------------------------------------------------
# Round-4 additions (SURVEY.md §2 Table G)
# --------------------------------------------------------------------------

_MAD_OUTLIERS_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    med AS (SELECT event_type, MEDIAN(value) AS med FROM e GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, med.med,
             ABS(e.value - med.med) AS adev
      FROM e JOIN med USING (event_type)
    ),
    mad AS (SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           ROUND(ANY_VALUE(dev.med) * 10000) / 10000 AS med,
           ROUND(ANY_VALUE(mad.mad) * 10000) / 10000 AS mad,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                 / (COUNT(*) * 1.0) * 1000000) / 1000000 AS pct_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type ORDER BY dev.event_type
"""


@register("win_mad_outliers", sql=_MAD_OUTLIERS_SQL)
def win_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group outlier detection: median / MAD (median absolute
    deviation) per event_type, rows with |value − median| > 3·MAD
    flagged — the data-cleaning primitive that, unlike z-scores, a few
    extreme values can't mask (50% breakdown point).

    Two grouped exact medians (value, then |value − med|) composed via
    BROADCAST joins of the tiny per-group stats back onto the fact —
    the fact is scanned once for the first median and once to build the
    deviation relation, which is CACHED (tracked, freed before the next
    query) so the mad aggregate and the final flag pass share it; the
    fact never shuffles (group count is event-type-sized). Both engines
    interpolate the even-n median identically, and med/mad/3·mad are
    derived from the same doubles on both sides, so the strict `>` flag
    agrees row-for-row."""
    from engine.session import load_events, scratch_cache

    ev = load_events(spark, sf).select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = scratch_cache(
        ev.join(F.broadcast(med), "event_type").withColumn(
            "adev", F.abs(F.col("value") - F.col("med"))
        )
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            dround(F.first("med"), 4).alias("med"),
            dround(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            dround(
                F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0))
                / (F.count("*") * F.lit(1.0)),
                6,
            ).alias("pct_outliers"),
        )
        .orderBy("event_type")
    )


_BPE_PAIRS_SQL = """
    WITH toks AS (
      SELECT STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM toks WHERE LEN(t) >= 2
    ),
    counted AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rnk
    FROM counted ORDER BY cnt DESC, pair LIMIT 20
"""


@register("pipeline_bpe_pair_counts", sql=_BPE_PAIRS_SQL)
def pipeline_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The first merge round of BPE vocabulary induction: corpus-wide
    adjacent-token-pair frequencies, top-20 (deterministic tie-break
    pair asc) — the inner loop of tokenizer training, run at corpus
    scale. zip_with over two shifted slices builds pairs without a
    join or a posexplode self-join; partial aggregation shrinks the
    shuffle to distinct pairs; the top-k is orderBy+limit →
    TakeOrderedAndProject (same scale shape as text_wordcount_topn),
    with the rank derived after the 20-row cut."""
    d = T(spark, sf, "documents")
    t = F.split("text", " ")
    pairs = (
        d.select(t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair")
        )
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    top = counted.orderBy(F.col("cnt").desc(), "pair").limit(20)
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


_ENTROPY_SQL = """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, SUM(n) AS tot FROM c GROUP BY source)
    SELECT c.source,
           CAST(ANY_VALUE(tot.tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           ROUND(SUM(-(n / (tot.tot * 1.0)) * LN(n / (tot.tot * 1.0))) * 1e6)
             / 1e6 AS lang_entropy
    FROM c JOIN tot USING (source)
    GROUP BY c.source ORDER BY c.source
"""


@register("agg_entropy", sql=_ENTROPY_SQL)
def agg_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the dataset-
    diversity metric a mixing pipeline monitors (H = −Σ p·ln p over the
    per-source lang distribution; 0 = monolingual source). Two-level
    aggregation: (source, lang) counts, then one entropy fold per
    source — both partial-aggregable, no window, no driver math."""
    d = T(spark, sf, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") / (F.col("tot") * F.lit(1.0))
    return (
        c.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.first("tot").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_langs"),
            dround(F.sum(-p * F.log(p)), 6).alias("lang_entropy"),
        )
        .orderBy("source")
    )
