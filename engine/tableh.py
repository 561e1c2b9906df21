"""Round-4 late wave (SURVEY.md §2 Table H): product-analytics and
training-pipeline operators that round out the engine's 100 TB surface —
cohort retention, rolling-window anomaly flags, weighted quantiles,
temperature-based source mixing, Z-order clustering, bounded-hop graph
reachability, and a binary-file source.

Scale design notes (100 TB posture):
- retention cohort: one distinct + two keyed aggregations, all hashed on
  user_id — the (user, week) relation is reused via a tracked cache so
  the fact scans once; the final matrix is weeks² rows (tiny).
- anomaly z-score: one shuffle on user_id, then a single window pass
  with a bounded ROWS frame — state per task is 20 doubles, independent
  of history length.
- weighted median: the fact collapses to (group, price) partial sums
  FIRST (partial-aggregable, shuffle carries distinct prices only), the
  cumulative window runs over the collapsed relation.
- temperature sampling: two-pass — a languages-sized rate table derived
  from per-lang counts, broadcast back; the accept decision is a pure
  function of doc_id (exact integer hash), so the corpus never shuffles
  and the same doc keeps/drops identically on any cluster layout.
- z-order: the interleave is a per-row bit expression (codegen, no
  shuffle); clustering is repartitionByRange on the z-value — the same
  range exchange a sorted write would use, giving min/max parquet stats
  that prune BOTH dimensions.
- BFS reachability: per hop ONE join (frontier ⋈ edges, both keyed on
  the node id) + a distinct; the driver carries only the hop counter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround, floordiv_sql
from engine.registry import register
from engine.session import EVENTS_US_SQL, T, load_events, scratch_cache, tiny_df

# --------------------------------------------------------------------------
# Cohort retention (events)
# --------------------------------------------------------------------------

#: µs per ISO week used as the cohort bucket (7 * 86400 * 1e6)
_WEEK_US = 604_800_000_000

_RETENTION_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    uw AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS wk FROM e
    ),
    ch AS (SELECT user_id, MIN(wk) AS cw FROM uw GROUP BY user_id)
    SELECT ch.cw AS cohort_week,
           uw.wk - ch.cw AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN ch USING (user_id)
    GROUP BY ch.cw, uw.wk - ch.cw
    ORDER BY cohort_week, week_offset
"""


@register("win_retention_cohort", sql=_RETENTION_SQL)
def win_retention_cohort(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort-retention matrix — the product-analytics staple:
    users are bucketed by their FIRST active week (cohort), and each
    cell counts how many of that cohort were active `offset` weeks
    later. Week = floor(epoch_µs / week_µs) on both engines (DuckDB
    ``//`` floors; Spark uses the pmod-floordiv long identity — double
    arithmetic would lose exactness at epoch-µs magnitudes).

    The (user, week) activity relation is computed once (distinct — the
    only pass over the fact) and cached for its two consumers; cohort
    assignment and the matrix are keyed aggregations on user_id, so the
    join is co-partitioned. Output is O(weeks²) rows regardless of
    corpus size."""
    ev = load_events(spark, sf)
    uw = scratch_cache(
        ev.select(
            "user_id", floordiv_sql("unix_micros(ts)", _WEEK_US).alias("wk")
        ).distinct()
    )
    ch = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    return (
        uw.join(ch, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("wk") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Rolling-window anomaly detection (events)
# --------------------------------------------------------------------------

_ZSCORE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    scored AS (
      SELECT user_id, value,
             AVG(value) OVER w AS mu,
             STDDEV_SAMP(value) OVER w AS sd
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, value,
             CASE WHEN sd > 0 THEN (value - mu) / sd END AS z
      FROM scored
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN z IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(SUM(CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           ROUND(MAX(ABS(z)) * 1000) / 1000 AS max_abs_z
    FROM z GROUP BY user_id ORDER BY user_id
"""


@register("ts_anomaly_zscore", sql=_ZSCORE_SQL)
def ts_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window z-score anomaly detection: each event is scored
    against the mean/stddev of its user's PRECEDING 20 events (the
    frame excludes the current row — scoring a point against a window
    that contains it dampens exactly the spikes being hunted), |z| > 3
    flagged, rolled up per user.

    One shuffle on user_id, one window pass with a bounded ROWS frame —
    per-task state is 20 doubles regardless of history length, so the
    operator streams at any scale. Rows whose trailing window has <2
    points or zero variance are unscored (NULL z on both engines; the
    sd > 0 guard keeps DuckDB's x/0 semantics out of the comparison).
    max_abs_z is rounded to 3 dp: both engines compute moments over the
    identical 20-value frame, rounding absorbs accumulation-order ulps."""
    ev = load_events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = ev.select(
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    z = F.when(F.col("sd") > 0, (F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        scored.withColumn("z", z)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("z").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_scored"),
            F.sum(F.when(F.abs("z") > 3, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            dround(F.max(F.abs("z")), 3).alias("max_abs_z"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Weighted median (lineitem)
# --------------------------------------------------------------------------

_WMEDIAN_SQL = """
    WITH g AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             SUM(l_quantity) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    c AS (
      SELECT flag, price, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(w) OVER (PARTITION BY flag) AS tot
      FROM g
    )
    SELECT flag AS l_returnflag,
           ROUND(MIN(CASE WHEN cum >= tot / 2 THEN price END) * 100) / 100
             AS weighted_median_price,
           ROUND(ANY_VALUE(tot) * 100) / 100 AS total_weight
    FROM c GROUP BY flag ORDER BY l_returnflag
"""


@register("agg_weighted_median", sql=_WMEDIAN_SQL)
def agg_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    """Quantity-weighted median price per returnflag — the weighted
    quantile no built-in aggregate covers (percentile_approx weights
    rows equally): the smallest price whose cumulative quantity reaches
    half the group's total.

    Scale shape (r13, guide §2.5): histogram drill-down instead of one
    cumulative window over every distinct (flag, price) — prices are
    near-continuous, so that window sorted ~n rows inside ONE task per
    flag (3 partitions carry the whole fact: the canonical low-
    cardinality window skew). Pass 1 sums weight per (flag,
    floor(price/64)) bucket — partial-aggregable, the shuffle carries
    only flags×buckets rows — and a window over that TINY relation
    finds each flag's crossing bucket (first b whose end-cumulative
    reaches tot/2) plus the exact weight offset before it. Pass 2
    re-reads only that bucket's price range (a literal min/max
    predicate per flag — pushed into the parquet scan for row-group
    skipping) and sorts ~n/buckets rows instead of n. 64 is a power of
    two, so price/64 is exact in doubles and the bucket predicate
    reproduces floor(price/64)==b bit-for-bit. Exactness of the result
    is unchanged: l_quantity is integral, so every partial sum, the
    bucket offset, and the tot/2 threshold are exactly representable
    doubles — offset + within-bucket cumulative equals the original
    global cumulative, value for value. The 3-row crossing-bucket
    collect is the dynamic-filter pattern (bounded by the group-key
    cardinality), the same trade the streaming ledgers make."""
    li = T(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    bucket = F.floor(F.col("l_extendedprice") / 64).cast("long")
    bs = li.groupBy(
        F.col("l_returnflag").alias("flag"), bucket.alias("b")
    ).agg(F.sum("l_quantity").alias("wb"))
    wc = (
        Window.partitionBy("flag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bs = bs.select(
        "flag",
        "b",
        "wb",
        F.sum("wb").over(wc).alias("endcum"),
        F.sum("wb").over(Window.partitionBy("flag")).alias("tot"),
    )
    hits = (
        bs.filter(F.col("endcum") >= F.col("tot") / 2)
        .groupBy("flag")
        .agg(F.min_by(F.struct("b", "wb", "endcum", "tot"), "b").alias("s"))
        .select(
            "flag",
            F.col("s.b").alias("b"),
            (F.col("s.endcum") - F.col("s.wb")).alias("offset"),
            F.col("s.tot").alias("tot"),
        )
        .collect()  # one row per returnflag — bounded by |group keys|
    )
    pred = F.lit(False)
    for r in hits:
        pred = pred | (
            (F.col("l_returnflag") == r["flag"])
            & (F.col("l_extendedprice") >= r["b"] * 64.0)
            & (F.col("l_extendedprice") < (r["b"] + 1) * 64.0)
        )
    off = F.broadcast(
        tiny_df(
            spark,
            [(r["flag"], float(r["offset"]), float(r["tot"])) for r in hits],
            "flag string, offset double, tot double",
        )
    )
    sub = (
        li.filter(pred)
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(F.sum("l_quantity").alias("w"))
    )
    wc2 = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = sub.join(off, "flag").select(
        "flag",
        "price",
        "tot",
        (F.col("offset") + F.sum("w").over(wc2)).alias("cum"),
    )
    return (
        c.groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            dround(
                F.min(F.when(F.col("cum") >= F.col("tot") / 2, F.col("price"))),
                2,
            ).alias("weighted_median_price"),
            dround(F.first("tot"), 2).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Temperature-weighted source sampling (documents)
# --------------------------------------------------------------------------

#: Knuth multiplicative hash — exact in 64-bit integer arithmetic on
#: both engines for any doc_id < 2^31, giving a uniform, portable
#: per-doc uniform variate u = h / 2^32 with 32-bit resolution.
_HASH_MULT = 2_654_435_761
_HASH_MOD = 4_294_967_296

_TEMP_SAMPLE_SQL = f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    sw AS (SELECT SUM(SQRT(n)) AS sw, SUM(n) AS tot FROM c),
    r AS (
      SELECT lang, n,
             ROUND(LEAST(1.0, (0.5 * tot) * (SQRT(n) / sw) / n) * 1e9) / 1e9
               AS rate
      FROM c CROSS JOIN sw
    )
    SELECT d.lang,
           CAST(ANY_VALUE(r.n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN
                 ((d.doc_id * {_HASH_MULT}) % {_HASH_MOD}) / {_HASH_MOD}.0
                   < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ANY_VALUE(r.rate) AS rate
    FROM documents d JOIN r USING (lang)
    GROUP BY d.lang ORDER BY d.lang
"""


@register("pipeline_temperature_sample", sql=_TEMP_SAMPLE_SQL)
def pipeline_temperature_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual-
    pretraining mixer, T = 2 i.e. p ∝ count^(1/2)): per-lang keep-rates
    are derived so the sampled corpus follows the temperature-flattened
    distribution at half the original size, then each doc is kept by a
    DETERMINISTIC hash of its id — the same doc survives on any engine,
    cluster size, or day (rand() promises none of those, and split
    drift between runs poisons downstream dedup/eval contracts).

    Two-pass shape: pass 1 is a languages-sized aggregate; the rate
    table (broadcast) joins back onto the corpus, which never shuffles.
    Portability: the accept threshold compares an EXACT 32-bit-
    resolution variate (Knuth multiplicative hash in 64-bit integer
    arithmetic) against a rate rounded to 1e-9 on both engines — the
    sum-of-sqrt ulp noise is absorbed by the rounding, and SQRT (unlike
    POW) is IEEE-correctly-rounded everywhere."""
    d = T(spark, sf, "documents")
    c = d.groupBy("lang").agg(F.count("*").alias("n"))
    sw = c.agg(
        F.sum(F.sqrt("n")).alias("sw"), F.sum("n").alias("tot")
    )
    rate = dround(
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("tot")) * (F.sqrt("n") / F.col("sw")) / F.col("n"),
        ),
        9,
    )
    r = c.crossJoin(F.broadcast(sw)).select("lang", "n", rate.alias("rate"))
    u = (F.col("doc_id") * _HASH_MULT) % _HASH_MOD / F.lit(float(_HASH_MOD))
    return (
        d.join(F.broadcast(r), "lang")
        .groupBy("lang")
        .agg(
            F.first("n").cast("long").alias("n_docs"),
            F.sum(F.when(u < F.col("rate"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.first("rate").alias("rate"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Bounded-hop BFS reachability (events affinity graph)
# --------------------------------------------------------------------------


def _bfs_oracle_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH RECURSIVE e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    seeds AS (
      SELECT user_id FROM (SELECT DISTINCT src AS user_id FROM edges)
      ORDER BY user_id LIMIT 5
    ),
    bfs(user_id, hop) AS (
      SELECT user_id, 0 FROM seeds
      UNION
      SELECT e2.dst, b.hop + 1
      FROM bfs b JOIN edges e2 ON e2.src = b.user_id
      WHERE b.hop < 3
    )
    SELECT user_id, CAST(MIN(hop) AS INT) AS hop
    FROM bfs GROUP BY user_id ORDER BY user_id
"""
    )


@register("graph_bfs_reachability", sql=_bfs_oracle_sql)
def graph_bfs_reachability(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-hop BFS (3 hops) from the 5 smallest node ids over the
    shared user-affinity multigraph (engine.analytics.affinity_edges —
    the same deterministic cohort-ring graph PageRank runs on): each
    reached node labeled with its BFS level (min hops from any seed).
    The blast-radius / influence-propagation primitive.

    ADAPTIVE physical strategy (the graph_pagerank / connected_components
    rule): the edge list — already orders of magnitude smaller than the
    raw events — is counted first; when driver-sized the traversal runs
    as an exact integer BFS on the driver (a union of 4 tiny distinct-
    shuffle branches costs more in stage scheduling than the whole
    graph costs to collect), otherwise the distributed semi-naive shape:
    per hop exactly ONE equi-join (frontier ⋈ edges, both hashed on the
    node id) + a distinct, the driver carrying only the hop counter.
    Both paths compute the identical integer fixpoint (asserted in
    tests on the same graph). The oracle is a recursive CTE over the
    SAME edge CTE fragment (AFFINITY_EDGES_CTE) — integer-exact, so the
    match pins both the graph construction and the traversal. MIN(hop)
    over all (node, level) sightings equals the BFS level on both
    engines."""
    from engine.analytics import driver_sized, materialize_affinity_edges

    edges = scratch_cache(materialize_affinity_edges(spark, sf))
    if driver_sized(edges):
        return _bfs_driver(spark, edges)
    return _bfs_distributed(spark, edges)


def _bfs_driver(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Exact integer BFS over the collected edge list — levels from the
    5 smallest source ids, 3 hops."""
    from collections import defaultdict

    adj: dict[int, set[int]] = defaultdict(set)
    for r in edges.collect():  # bounded by the counted precondition
        adj[r["src"]].add(r["dst"])
    seeds = sorted(adj)[:5]
    hop_of = {u: 0 for u in seeds}
    frontier = set(seeds)
    for hop in (1, 2, 3):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in hop_of
        }
        for v in frontier:
            hop_of[v] = hop
    return tiny_df(
        spark, sorted(hop_of.items()), "user_id long, hop int"
    ).orderBy("user_id")


def _bfs_distributed(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Semi-naive distributed frontier expansion — the 100 TB shape."""
    nodes = edges.select(F.col("src").alias("user_id")).distinct()
    seeds = nodes.orderBy("user_id").limit(5)
    reached = [seeds.select("user_id", F.lit(0).cast("int").alias("hop"))]
    frontier = seeds
    for hop in (1, 2, 3):
        frontier = (
            frontier.join(edges, frontier["user_id"] == edges["src"])
            .select(F.col("dst").alias("user_id"))
            .distinct()
        )
        reached.append(
            frontier.select("user_id", F.lit(hop).cast("int").alias("hop"))
        )
    allhops = reached[0]
    for r in reached[1:]:
        allhops = allhops.unionAll(r)
    return (
        allhops.groupBy("user_id")
        .agg(F.min("hop").cast("int").alias("hop"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Z-order clustering (lineitem)
# --------------------------------------------------------------------------

#: 8-bit × 8-bit Morton interleave of (l_partkey, l_suppkey) low bytes —
#: built once as SQL text, used verbatim by BOTH engines (integer-exact,
#: so the shared text is the whole portability argument).
_Z_SPARK = " + ".join(
    f"(shiftleft(shiftright(l_partkey, {i}) & 1, {2 * i + 1})"
    f" + shiftleft(shiftright(l_suppkey, {i}) & 1, {2 * i}))"
    for i in range(8)
)
_Z_DUCK = " + ".join(
    f"((((l_partkey >> {i}) & 1) << {2 * i + 1})"
    f" + (((l_suppkey >> {i}) & 1) << {2 * i}))"
    for i in range(8)
)

_ZORDER_SQL = f"""
    WITH z AS (
      SELECT ({_Z_DUCK}) AS zval,
             l_partkey & 255 AS pk8, l_suppkey & 255 AS sk8
      FROM lineitem
    )
    SELECT zval >> 10 AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(pk8) AS pk_min, MAX(pk8) AS pk_max,
           MIN(sk8) AS sk_min, MAX(sk8) AS sk_max
    FROM z GROUP BY zval >> 10 ORDER BY zbucket
"""


@register("layout_zorder_cluster", sql=_ZORDER_SQL)
def layout_zorder_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering — the multi-dimensional data-skipping
    layout: interleaving the bits of two join/filter dimensions gives a
    1-D sort key whose ranges are small RECTANGLES in (partkey,
    suppkey) space, so a range-clustered write yields parquet min/max
    stats that prune scans on EITHER dimension (a plain sort prunes
    only its leading column). The audit output proves the locality:
    each of the 64 coarse z-ranges covers a bounded pk×sk box (pk_/
    sk_ min/max span ≤ the bucket's quadrant), which is exactly the
    property row-group skipping exploits.

    Physical path: the z-value is a pure per-row bit expression (whole-
    stage codegen, no shuffle to compute); clustering uses
    repartitionByRange(zval) + sortWithinPartitions — the layout a
    100 TB table would be WRITTEN with (here feeding the audit
    aggregate). The interleave expression is one shared SQL text
    evaluated by both engines in exact 64-bit integer arithmetic."""
    li = T(spark, sf, "lineitem")
    z = li.selectExpr(
        f"({_Z_SPARK}) AS zval",
        "l_partkey & 255 AS pk8",
        "l_suppkey & 255 AS sk8",
    )
    clustered = z.repartitionByRange(64, "zval").sortWithinPartitions("zval")
    return (
        clustered.groupBy(
            F.shiftright("zval", 10).alias("zbucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk8").alias("pk_min"),
            F.max("pk8").alias("pk_max"),
            F.min("sk8").alias("sk_min"),
            F.max("sk8").alias("sk_max"),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# Binary-file source (multimodal ingestion front door)
# --------------------------------------------------------------------------


def _binfiles_fixture(sf: str) -> str:
    """Plant a deterministic directory of small binary files (the first
    16 documents, utf-8 bytes) next to the scratch tree — the stand-in
    for an image/audio landing zone. An artifact of the documents table
    (engine.session.artifact), built JVM-free with pyarrow."""
    import pathlib

    from engine.session import artifact, artifact_path

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
        t = t.filter(pc.less(t["doc_id"], 16))
        for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            (pathlib.Path(tmp) / f"doc_{doc_id:04d}.bin").write_bytes(
                (text or "").encode("utf-8")
            )

    return artifact(artifact_path("binfiles", sf, ("documents",)), build)


def _binfile_oracle_sql() -> str:
    from engine.session import oracle_sf

    path = _binfiles_fixture(oracle_sf())
    return f"""
    SELECT parse_filename(filename) AS fname,
           CAST(size AS BIGINT) AS n_bytes,
           hex(content) AS hex_content
    FROM read_blob('{path}/*.bin') ORDER BY fname
"""


@register("scan_binaryfile", sql=_binfile_oracle_sql)
def scan_binaryfile(spark: SparkSession, sf: str) -> DataFrame:
    """`binaryFile` source — the ingestion front door for multimodal
    corpora (images/audio land as opaque files; engine.multimodal takes
    over from the binary column). Returns (basename, size, full hex of
    the bytes) so the oracle (DuckDB read_blob over the same planted
    fixture) value-checks the CONTENT byte-for-byte, not just
    existence.

    At 100 TB this scan parallelizes per file (and per block for large
    files), `pathGlobFilter`/`recursiveFileLookup` prune at the listing
    level, and spark.sql.files.maxPartitionBytes sizes the tasks; the
    hex audit column is test-scale only — production keeps the bytes
    binary end-to-end."""
    path = _binfiles_fixture(sf)
    # pathGlobFilter, not a literal "/*.bin" glob in the path: the glob
    # form makes the source probe the literal path first and log a
    # caught FileNotFoundException at ERROR level on every build.
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return (
        df.select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.hex("content").alias("hex_content"),
        )
        .orderBy("fname")
    )


# --------------------------------------------------------------------------
# Degree distribution (events affinity graph)
# --------------------------------------------------------------------------


def _degree_dist_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
    SELECT deg AS out_degree, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM deg GROUP BY deg ORDER BY out_degree
"""
    )


@register("graph_degree_distribution", sql=_degree_dist_sql)
def graph_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Out-degree histogram of the shared affinity multigraph — the
    first thing a graph pipeline inspects (skew here predicts every
    downstream join's hot keys). Two partial-aggregable shuffles, each
    orders of magnitude smaller than its input: edges → per-src degree
    → degree histogram; integer-exact end to end, over the same edge
    CTE fragment the PageRank/BFS oracles pin."""
    from engine.analytics import materialize_affinity_edges

    deg = (
        materialize_affinity_edges(spark, sf)
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.groupBy(F.col("deg").alias("out_degree"))
        .agg(F.count("*").alias("n_users"))
        .orderBy("out_degree")
    )


# --------------------------------------------------------------------------
# Span corruption (T5-style denoising pretraining prep)
# --------------------------------------------------------------------------

#: span-start decision for token i of doc d (exact 64-bit arithmetic,
#: identical text on both engines): hash lands in 1/20 of its range.
_SPAN_RATE = 20
_SPAN_LEN = 3  # a start at i masks tokens i, i+1, i+2

_SPAN_SQL = f"""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
    m AS (
      SELECT doc_id, LEN(tk) AS n,
             LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk)), i -> CASE WHEN
               ((doc_id * 31 + i) * {_HASH_MULT}) % {_HASH_MOD}
                 % {_SPAN_RATE} = 0
               OR (i >= 2 AND
                   ((doc_id * 31 + i - 1) * {_HASH_MULT}) % {_HASH_MOD}
                     % {_SPAN_RATE} = 0)
               OR (i >= 3 AND
                   ((doc_id * 31 + i - 2) * {_HASH_MULT}) % {_HASH_MOD}
                     % {_SPAN_RATE} = 0)
               THEN 1 ELSE 0 END) AS mk
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(LIST_SUM(mk) AS BIGINT) AS n_masked,
           CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, n), i ->
             CASE WHEN mk[i] = 1 AND (i = 1 OR mk[i - 1] = 0)
             THEN 1 ELSE 0 END)) AS BIGINT) AS n_spans,
           ROUND(LIST_SUM(mk) / (n * 1.0) * 1e4) / 1e4 AS mask_rate
    FROM m ORDER BY doc_id
"""


@register("pipeline_span_corruption", sql=_SPAN_SQL)
def pipeline_span_corruption(spark: SparkSession, sf: str) -> DataFrame:
    """T5-style span-corruption planning: ~1/20 of token positions start
    a 3-token mask span (overlaps merge), chosen by a DETERMINISTIC
    hash of (doc_id, position) — the same spans on any engine, cluster
    size, or epoch replay, which is what makes the denoising targets
    reproducible. Output audits the corruption per doc (token count,
    masked count, merged-span count, rate).

    Pure per-row array expressions — narrow plan, no shuffle, no UDF;
    the span decisions are exact 64-bit integer arithmetic shared as
    SQL text with the oracle. At 100 TB this runs scan-speed; the
    actual sentinel rewrite is one more transform over the same mask
    (omitted here to keep the audit columns scalar)."""
    d = T(spark, sf, "documents")

    def cond(i):
        # i is a 1-based position Column (long); exact integer path
        return (
            (F.col("doc_id") * 31 + i) * _HASH_MULT % _HASH_MOD % _SPAN_RATE
            == 0
        )

    tk = F.split("text", " ")
    n = F.size(tk)
    idx = F.sequence(F.lit(1), n)
    mk = F.transform(
        idx,
        lambda i: F.when(
            cond(i)
            | ((i >= 2) & cond(i - 1))
            | ((i >= 3) & cond(i - 2)),
            1,
        ).otherwise(0),
    )
    m = d.select(
        "doc_id", n.alias("n"), mk.alias("mk"), idx.alias("idx")
    )
    spans = F.transform(
        F.col("idx"),
        lambda i: F.when(
            (F.element_at("mk", i) == 1)
            & ((i == 1) | (F.element_at("mk", i - 1) == 0)),
            1,
        ).otherwise(0),
    )
    tot = lambda c: F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a + x)
    return m.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        tot(F.col("mk")).alias("n_masked"),
        tot(spans).alias("n_spans"),
        dround(tot(F.col("mk")) / (F.col("n") * F.lit(1.0)), 4).alias(
            "mask_rate"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Exact multi-quantiles (events)
# --------------------------------------------------------------------------

_QUANTILE_MULTI_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(QUANTILE_CONT(value, 0.25) * 1e4) / 1e4 AS p25,
           ROUND(QUANTILE_CONT(value, 0.50) * 1e4) / 1e4 AS p50,
           ROUND(QUANTILE_CONT(value, 0.75) * 1e4) / 1e4 AS p75,
           ROUND(QUANTILE_CONT(value, 0.90) * 1e4) / 1e4 AS p90
    FROM e GROUP BY event_type ORDER BY event_type
"""


@register("agg_quantile_multi", sql=_QUANTILE_MULTI_SQL)
def agg_quantile_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Exact multi-quantile profile per group (p25/p50/p75/p90) — the
    distribution fingerprint dashboards pin next to the mean. One
    grouped aggregate computes ALL four cut points from a single sort
    of each group's values (Spark's percentile and DuckDB's
    QUANTILE_CONT share the (n−1)·p linear-interpolation definition);
    the exact form is the small-group complement to the mergeable
    percentile_approx sketch (`agg_approx_quantiles`) that the 100 TB
    path uses."""
    ev = load_events(spark, sf)
    pct = F.percentile("value", F.lit([0.25, 0.50, 0.75, 0.90]))
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), pct.alias("q")
    )
    return g.select(
        "event_type",
        "n",
        dround(F.col("q").getItem(0), 4).alias("p25"),
        dround(F.col("q").getItem(1), 4).alias("p50"),
        dround(F.col("q").getItem(2), 4).alias("p75"),
        dround(F.col("q").getItem(3), 4).alias("p90"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Line-oriented text source
# --------------------------------------------------------------------------


def _textlines_fixture(sf: str) -> str:
    """Plant a deterministic .txt file (first 200 document texts, one
    per line, no trailing newline) — same artifact contract as the
    binaryFile fixture."""
    import pathlib

    from engine.session import artifact, artifact_path

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
        t = t.filter(pc.less(t["doc_id"], 200)).sort_by("doc_id")
        lines = [(x or "").replace("\n", " ") for x in t["text"].to_pylist()]
        (pathlib.Path(tmp) / "docs.txt").write_text("\n".join(lines), encoding="utf-8")

    return artifact(artifact_path("textlines", sf, ("documents",)), build) + "/docs.txt"


def _textlines_oracle_sql() -> str:
    from engine.session import oracle_sf

    path = _textlines_fixture(oracle_sf())
    return f"""
    WITH raw AS (SELECT decode(content) AS s FROM read_blob('{path}')),
    l AS (SELECT UNNEST(STRING_SPLIT(s, chr(10))) AS line FROM raw)
    SELECT line, CAST(LENGTH(line) AS INT) AS n_chars FROM l
"""


@register("scan_text_lines", sql=_textlines_oracle_sql)
def scan_text_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Line-oriented text source (`spark.read.text`) — the rawest
    ingestion format a crawl pipeline starts from (one record per
    line, schema = a single string column). Completes the source
    matrix: parquet / csv / json-lines / orc / binaryFile /
    whole-text / text. Splitting parallelizes per HDFS block at scale;
    the oracle re-derives the identical line relation by splitting the
    same planted file's bytes."""
    path = _textlines_fixture(sf)
    return spark.read.text(path).select(
        F.col("value").alias("line"),
        F.length("value").cast("int").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Calendar feature extraction (events)
# --------------------------------------------------------------------------

_CALENDAR_SQL = f"""
    WITH e AS ({EVENTS_US_SQL})
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(value) * 1e4) / 1e4 AS avg_value
    FROM e GROUP BY 1, 2 ORDER BY dow, hr
"""


@register("ts_calendar_features", sql=_CALENDAR_SQL)
def ts_calendar_features(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar feature grid (ISO weekday × hour) — the feature-
    engineering pass every forecasting/seasonality model starts with,
    rolled up so the output is a ≤168-cell profile. Timezone is pinned
    UTC by the session contract (engine.session.tune), so Spark's
    weekday and DuckDB's isodow see the same instants; ISO numbering
    (1=Mon) is made explicit on both engines. One partial-aggregable
    shuffle of 168 cells."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("dow", "hr")
    )


# --------------------------------------------------------------------------
# CDC changelog apply (events as an ordered change stream)
# --------------------------------------------------------------------------

_CDC_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM e
    )
    SELECT user_id,
           ROUND(value * 1e4) / 1e4 AS last_value,
           ts AS last_ts,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
"""


@register("merge_cdc_apply", sql=_CDC_SQL)
def merge_cdc_apply(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changelog compaction — the lakehouse MERGE primitive applied
    in batch: events are an ordered change stream per user ('error' =
    tombstone/DELETE, anything else = UPSERT carrying the new value);
    the result is the latest surviving state per key. Completes the
    merge family (scd1 = overwrite, scd2 = history, cdc = ordered
    replay with deletes).

    One shuffle on the key, one window pass computing BOTH the rank
    and the change count (the count needs every row, so latest-per-key
    cannot prune to a WindowGroupLimit here — state per key is still
    O(1): a counter and the current head), tombstones dropped AFTER
    ranking so a delete correctly erases earlier upserts. Deterministic total order:
    (ts, event_id) — the changelog position."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "user_id",
        "event_type",
        "value",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n_changes"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            dround(F.col("value"), 4).alias("last_value"),
            F.col("ts").alias("last_ts"),
            F.col("n_changes").cast("long").alias("n_changes"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Higher-moment statistics from shared raw power sums
# --------------------------------------------------------------------------

#: skewness/kurtosis from raw power sums, written ONCE and executed
#: verbatim by both engines: Spark's skewness()/kurtosis() use
#: population g1/g2 while DuckDB's use sample-corrected G1/G2 — the
#: built-ins can NEVER hash-match, so both sides compute the identical
#: moment formula from Σx, Σx², Σx³, Σx⁴ instead.
_MOMENTS_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    s AS (
      SELECT event_type,
             COUNT(*) * 1.0 AS n,
             SUM(value) AS s1, SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM e GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND((s1 / n) * 1e4) / 1e4 AS mean,
           ROUND((s2 / n - (s1 / n) * (s1 / n)) * 1e4) / 1e4 AS m2,
           ROUND(((s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                  / POW(s2 / n - (s1 / n) * (s1 / n), 1.5)) * 1e4) / 1e4
             AS skewness,
           ROUND(((s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                  / ((s2 / n - (s1 / n) * (s1 / n))
                     * (s2 / n - (s1 / n) * (s1 / n))) - 3) * 1e4) / 1e4
             AS excess_kurtosis
    FROM s ORDER BY event_type
"""


@register("agg_moments_skew_kurtosis", sql=_MOMENTS_SQL)
def agg_moments_skew_kurtosis(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group skewness and excess kurtosis — the distribution-shape
    monitor (symmetric? heavy-tailed?) that decides whether a feature
    needs a log transform before training. Built-in skewness/kurtosis
    DIVERGE between engines (population vs sample corrections), so
    both sides evaluate one shared moment formula over raw power sums
    — a single partial-aggregable pass (4 sums per group), exactly the
    mergeable shape a 1000-executor rollup needs. Rounded at 1e-4:
    the power sums are order-dependent doubles; rounding absorbs the
    accumulation ulps (same policy as agg_entropy)."""
    ev = load_events(spark, sf)
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    )
    return s.select(
        "event_type",
        n.cast("long").alias("n_events"),
        dround(mean, 4).alias("mean"),
        dround(m2, 4).alias("m2"),
        dround(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
        dround(m4 / (m2 * m2) - 3, 4).alias("excess_kurtosis"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Corpus bigram language model + per-doc cross-entropy
# --------------------------------------------------------------------------

_BIGRAM_LM_SQL = """
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
    bg AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS big
      FROM t WHERE LEN(tk) >= 2
    ),
    cb AS (SELECT big, COUNT(*) AS c FROM bg GROUP BY big),
    cl AS (SELECT STRING_SPLIT(big, ' ')[1] AS w1, SUM(c) AS cleft
           FROM cb GROUP BY STRING_SPLIT(big, ' ')[1]),
    v AS (SELECT COUNT(DISTINCT STRING_SPLIT(big, ' ')[2]) AS vocab FROM cb)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LN((cb.c + 1) / (cl.cleft + v.vocab * 1.0))) * 1e4)
             / 1e4 AS cross_entropy
    FROM bg
    JOIN cb USING (big)
    JOIN cl ON cl.w1 = STRING_SPLIT(bg.big, ' ')[1]
    CROSS JOIN v
    GROUP BY bg.doc_id ORDER BY bg.doc_id
"""


@register("text_bigram_lm", sql=_BIGRAM_LM_SQL)
def text_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained bigram LM with add-one smoothing, scoring every
    doc's cross-entropy under it — the n-gram upgrade of the unigram
    text_lm_score quality filter (KenLM-style perplexity filtering is
    standard pretraining hygiene; gibberish scores high, fluent text
    low).

    Train and score in ONE dag: bigram counts and left-context totals
    are partial-aggregable shuffles on the bigram/left-token keys; the
    doc→prob lookup is an equi-join on the bigram key (at 100 TB this
    is the heavy join — hot bigrams skew it, which AQE skew-split
    handles; the vocab scalar rides along as a broadcast). The pair
    build reuses the shifted-slice zip_with (no self-join, no UDF).
    Cross-entropy is averaged then rounded 1e-4 — log ulps between
    libm and JVM Math.log are absorbed (the agg_entropy precedent)."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    tk = F.split("text", " ")
    bg = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("tk", 1, F.size("tk") - 1),
                    F.slice("tk", 2, F.size("tk") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("big"),
        )
    )
    bg = scratch_cache(bg)
    cb = bg.groupBy("big").agg(F.count("*").alias("c"))
    w1 = F.split("big", " ").getItem(0)
    w2 = F.split("big", " ").getItem(1)
    cl = cb.groupBy(w1.alias("w1")).agg(F.sum("c").alias("cleft"))
    vocab = cb.select(F.count_distinct(w2).alias("vocab"))
    p = (F.col("c") + 1) / (F.col("cleft") + F.col("vocab") * F.lit(1.0))
    return (
        bg.join(cb, "big")
        .join(cl, w1 == F.col("w1"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            dround(F.avg(-F.log(p)), 4).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation (events)
# --------------------------------------------------------------------------

_AUTOCORR_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    l AS (
      SELECT user_id, value AS y,
             LAG(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS x
      FROM e
    ),
    p AS (SELECT user_id, x, y FROM l WHERE x IS NOT NULL),
    s AS (
      SELECT user_id, COUNT(*) * 1.0 AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
             SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM p GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                           / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
                           * 1e4) / 1e4 END AS autocorr_lag1
    FROM s ORDER BY user_id
"""


@register("ts_autocorr_lag1", sql=_AUTOCORR_SQL)
def ts_autocorr_lag1(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1 autocorrelation per user series — the seasonality /
    trend-stickiness probe run before any forecasting model choice.
    Built-in corr() diverges across engines on degenerate inputs, so
    both sides evaluate one shared Pearson formula over six plain sums
    of the (vₜ₋₁, vₜ) pair stream (the agg_moments recipe): the lag is
    ONE window pass behind a single user_id shuffle, the sums are
    partial-aggregable, and zero-variance series yield NULL via the
    same positive-denominator guard on both engines."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("value").alias("y"),
            F.lag("value").over(w).alias("x"),
        )
        .filter(F.col("x").isNotNull())
    )
    x, y = F.col("x"), F.col("y")
    s = pairs.groupBy("user_id").agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    r = F.when(
        (vx > 0) & (vy > 0), dround((n * sxy - sx * sy) / F.sqrt(vx * vy), 4)
    )
    return s.select(
        "user_id", n.cast("long").alias("n_pairs"), r.alias("autocorr_lag1")
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Image tile planning (multimodal preprocessing)
# --------------------------------------------------------------------------

#: the media table's deterministic BMP dimensions (engine/multimodal.py
#: _make_bmp) re-derived as shared integer SQL — the tile plan is exact
#: arithmetic over metadata, no pixel bytes touched.
_TILE = 8

_TILE_PLAN_SQL = f"""
    WITH dims AS (
      SELECT doc_id,
             16 + (doc_id % 16) * 3 AS w,
             16 + ((doc_id % 16) * 7) % 24 AS h
      FROM documents
    ),
    t AS (
      SELECT doc_id, w, h,
             (w + {_TILE} - 1) // {_TILE} AS ntx,
             (h + {_TILE} - 1) // {_TILE} AS nty
      FROM dims
    )
    SELECT doc_id,
           CAST(u.tx AS INT) AS tile_x, CAST(v.ty AS INT) AS tile_y,
           CAST(u.tx * {_TILE} AS INT) AS x0,
           CAST(v.ty * {_TILE} AS INT) AS y0,
           CAST(LEAST({_TILE}, w - u.tx * {_TILE}) AS INT) AS tw,
           CAST(LEAST({_TILE}, h - v.ty * {_TILE}) AS INT) AS th
    FROM t,
         UNNEST(GENERATE_SERIES(0, ntx - 1)) AS u(tx),
         UNNEST(GENERATE_SERIES(0, nty - 1)) AS v(ty)
"""


@register("multimodal_tile_plan", sql=_TILE_PLAN_SQL)
def multimodal_tile_plan(spark: SparkSession, sf: str) -> DataFrame:
    """ViT-style patch/tile planning over image METADATA only: each
    image (the media table's deterministic per-doc BMP dimensions)
    becomes a grid of ≤8×8 tiles with edge tiles clipped — the
    coordinate plan a vision-pretraining pipeline computes BEFORE
    touching pixel bytes, so the heavy decode kernel receives
    (doc, tile) work units it can batch.

    Pure per-row integer arithmetic + one explode — narrow plan, no
    shuffle, no UDF; the dimension formulas are shared verbatim with
    the oracle (and pinned to the generator in engine/multimodal.py,
    which the decode tests already round-trip)."""
    d = T(spark, sf, "documents").select("doc_id")
    w = (F.lit(16) + (F.col("doc_id") % 16) * 3).alias("w")
    h = (F.lit(16) + ((F.col("doc_id") % 16) * 7) % 24).alias("h")
    t = d.select("doc_id", w, h).select(
        "doc_id",
        "w",
        "h",
        F.expr(f"(w + {_TILE} - 1) div {_TILE}").alias("ntx"),
        F.expr(f"(h + {_TILE} - 1) div {_TILE}").alias("nty"),
    )
    tiles = t.select(
        "doc_id",
        "w",
        "h",
        F.explode(F.sequence(F.lit(0), F.col("ntx") - 1)).alias("tx"),
        "nty",
    ).select(
        "doc_id",
        "w",
        "h",
        "tx",
        F.explode(F.sequence(F.lit(0), F.col("nty") - 1)).alias("ty"),
    )
    return tiles.select(
        "doc_id",
        F.col("tx").cast("int").alias("tile_x"),
        F.col("ty").cast("int").alias("tile_y"),
        (F.col("tx") * _TILE).cast("int").alias("x0"),
        (F.col("ty") * _TILE).cast("int").alias("y0"),
        F.least(F.lit(_TILE), F.col("w") - F.col("tx") * _TILE)
        .cast("int")
        .alias("tw"),
        F.least(F.lit(_TILE), F.col("h") - F.col("ty") * _TILE)
        .cast("int")
        .alias("th"),
    )


# --------------------------------------------------------------------------
# Gini concentration (events)
# --------------------------------------------------------------------------

_GINI_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    pos AS (SELECT event_type, value FROM e WHERE value > 0),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value) * 1.0 AS i
      FROM pos
    ),
    s AS (
      SELECT event_type, COUNT(*) * 1.0 AS n,
             SUM(value) AS sv, SUM(i * value) AS siv
      FROM r GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND((2 * siv / (n * sv) - (n + 1) / n) * 1e4) / 1e4 AS gini
    FROM s ORDER BY event_type
"""


@register("agg_gini_concentration", sql=_GINI_SQL)
def agg_gini_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of the per-group value distribution — the
    concentration monitor (0 = perfectly even, →1 = one row carries
    everything) that flags skewed revenue / traffic / token-count
    distributions before they skew a shuffle. Positive-domain filter
    on both engines (the geometric-mean precedent — Gini is undefined
    for mixed signs).

    Rank-sum formula G = 2·Σ(i·vᵢ)/(n·Σv) − (n+1)/n over values sorted
    ascending within the group: one window pass for the rank, one
    partial-aggregable sum bundle — ties contribute identically under
    any tie order (equal v multiplied by consecutive i sums to the
    same), so the rank needs no tie-break to be deterministic."""
    ev = load_events(spark, sf)
    pos = ev.filter(F.col("value") > 0).select("event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value")
    r = pos.select(
        "event_type",
        "value",
        (F.row_number().over(w) * F.lit(1.0)).alias("i"),
    )
    s = r.groupBy("event_type").agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        F.sum("value").alias("sv"),
        F.sum(F.col("i") * F.col("value")).alias("siv"),
    )
    n, sv, siv = F.col("n"), F.col("sv"), F.col("siv")
    return s.select(
        "event_type",
        n.cast("long").alias("n_events"),
        dround(2 * siv / (n * sv) - (n + 1) / n, 4).alias("gini"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Tokenizer vocabulary coverage (documents)
# --------------------------------------------------------------------------

_VOCAB_K = 1000

_OOV_SQL = f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT {_VOCAB_K})
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / (COUNT(*) * 1.0) * 1e4) / 1e4 AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id ORDER BY t.doc_id
"""


@register("text_vocab_oov_rate", sql=_OOV_SQL)
def text_vocab_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage audit: induce the top-1000-token vocabulary
    from the corpus itself (deterministic tie-break count desc, token
    asc), then score every document's out-of-vocabulary token rate —
    the coverage check run before committing to a tokenizer (high OOV
    → the vocab wasn't trained on this distribution).

    Two-pass shape: the vocab is a TakeOrderedAndProject over the
    token counts (per-partition heap, never a global sort) and comes
    back onto the token stream as a BROADCAST left join — the corpus
    tokens never shuffle for the membership test; the per-doc rollup
    re-uses the doc_id partitioning of the explode."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    tok = scratch_cache(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("inv"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            dround(
                F.sum(F.when(F.col("inv").isNull(), 1).otherwise(0))
                / (F.count("*") * F.lit(1.0)),
                4,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Link prediction by neighbor Jaccard (events affinity graph)
# --------------------------------------------------------------------------


def _jaccard_link_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    adj AS (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY u),
    common AS (
      SELECT x.u AS a, y.u AS b, COUNT(*) AS c
      FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
      GROUP BY x.u, y.u
    ),
    cand AS (
      SELECT c.a, c.b, c.c FROM common c
      LEFT JOIN und ON und.a = c.a AND und.b = c.b
      WHERE und.a IS NULL
    )
    SELECT a, b,
           ROUND(c * 1.0 / (da.d + db.d - c) * 1e6) / 1e6 AS jaccard
    FROM cand JOIN deg da ON da.u = a JOIN deg db ON db.u = b
    ORDER BY jaccard DESC, a, b LIMIT 20
"""
    )


@register("graph_jaccard_link_prediction", sql=_jaccard_link_sql)
def graph_jaccard_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the shared affinity graph: for non-adjacent
    user pairs with ≥1 common neighbor, score neighbor-set Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)| and return the top-20 predicted links —
    the classic common-neighbors recommender.

    Scale shape: common-neighbor counting is one self-join of the
    adjacency list ON THE SHARED NEIGHBOR (candidates = 2-hop pairs
    only, never all pairs — the same blocked-join discipline as the
    dedup family; hub neighbors are the skew axis, capped at 100 TB by
    a max-degree filter exactly like the shingle-DF cap); existing
    edges drop via a LEFT ANTI join; degrees broadcast back. Integer-
    exact until the final ratio (rounded 1e-6), deterministic ties.

    The cached relations are right-sized to the EDGE COUNT
    (affinity_edge_parts — r13, guide §2.2): under the session default
    every cached derivation pinned a 32-to-64-partition layout (AQE
    cannot coalesce cached output) and each of the ~10 downstream jobs
    paid 32-65 task launches on a graph of a few thousand edges. The
    repartition lands BEFORE the distinct so the dedup aggregate reuses
    its exchange — one keyed shuffle total into the cache."""
    from engine.analytics import affinity_edge_parts, materialize_affinity_edges

    edges = materialize_affinity_edges(spark, sf)
    p = affinity_edge_parts(spark, sf)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .repartition(p, "a", "b")
        .dropDuplicates()
    )
    und = scratch_cache(und)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    adj = scratch_cache(adj)
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = adj.select(F.col("u").alias("b"), F.col("v").alias("w"))
    common = (
        x.join(y, (x["w"] == y["w"]) & (x["a"] < y["b"]))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    cand = common.join(und, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    jac = dround(
        F.col("c") * F.lit(1.0) / (F.col("da") + F.col("db") - F.col("c")), 6
    )
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select("a", "b", jac.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Experiment statistics: Welch's t and chi-square (events)
# --------------------------------------------------------------------------

_WELCH_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    s AS (
      SELECT event_type, COUNT(*) * 1.0 AS n,
             SUM(value) AS sv, SUM(value * value) AS svv
      FROM e WHERE event_type IN ('view', 'purchase')
      GROUP BY event_type
    ),
    w AS (
      SELECT event_type, n, sv / n AS m,
             (svv - sv * sv / n) / (n - 1) AS var
      FROM s
    )
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(a.m * 1e4) / 1e4 AS mean_a,
           ROUND(b.m * 1e4) / 1e4 AS mean_b,
           ROUND((a.m - b.m) / SQRT(a.var / a.n + b.var / b.n) * 1e4) / 1e4
             AS t_stat,
           ROUND((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n)
                 / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
                    + (b.var / b.n) * (b.var / b.n) / (b.n - 1))
                 * 1e2) / 1e2 AS welch_df
    FROM (SELECT * FROM w WHERE event_type = 'view') a
    CROSS JOIN (SELECT * FROM w WHERE event_type = 'purchase') b
"""


@register("agg_ab_test_welch", sql=_WELCH_SQL)
def agg_ab_test_welch(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's two-sample t statistic + Welch–Satterthwaite degrees of
    freedom comparing the 'view' and 'purchase' value populations —
    the A/B-test read-out computed IN the engine (shipping raw
    observations to a notebook for a t-test is the anti-pattern this
    replaces at 100 TB). Each arm reduces to (n, Σv, Σv²) — one
    partial-aggregable pass over the filtered fact — and the scalar
    arithmetic happens on a 2-row relation; both engines evaluate one
    shared formula text (the agg_moments rule: stats built-ins differ
    in their corrections, raw-sum formulas cannot)."""
    ev = load_events(spark, sf)
    v = F.col("value")
    s = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            (F.count("*") * F.lit(1.0)).alias("n"),
            F.sum(v).alias("sv"),
            F.sum(v * v).alias("svv"),
        )
    )
    w = s.select(
        "event_type",
        "n",
        (F.col("sv") / F.col("n")).alias("m"),
        ((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
         / (F.col("n") - 1)).alias("var"),
    )
    a = w.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("var").alias("var_a")
    )
    b = w.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("var").alias("var_b")
    )
    j = a.crossJoin(F.broadcast(b))
    sea = F.col("var_a") / F.col("n_a")
    seb = F.col("var_b") / F.col("n_b")
    return j.select(
        F.col("n_a"),
        F.col("n_b"),
        dround(F.col("m_a"), 4).alias("mean_a"),
        dround(F.col("m_b"), 4).alias("mean_b"),
        dround((F.col("m_a") - F.col("m_b")) / F.sqrt(sea + seb), 4).alias(
            "t_stat"
        ),
        dround(
            (sea + seb) * (sea + seb)
            / (sea * sea / (F.col("n_a") - 1) + seb * seb / (F.col("n_b") - 1)),
            2,
        ).alias("welch_df"),
    )


_CHI2_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    o AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             COUNT(*) * 1.0 AS obs
      FROM e GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, SUM(obs) AS rtot FROM o GROUP BY event_type),
    ct AS (SELECT dow, SUM(obs) AS ctot FROM o GROUP BY dow),
    g AS (SELECT SUM(obs) AS tot FROM o)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((obs - rt.rtot * ct.ctot / g.tot)
                     * (obs - rt.rtot * ct.ctot / g.tot)
                     / (rt.rtot * ct.ctot / g.tot)) * 1e4) / 1e4 AS chi2
    FROM o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN g
"""


@register("agg_chi_square_independence", sql=_CHI2_SQL)
def agg_chi_square_independence(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence statistic for the event_type × ISO-
    weekday contingency table — "does behavior depend on the day?",
    the categorical sibling of the Welch read-out. The contingency
    table is ONE partial-aggregable pass (35 cells); margins and the
    grand total are sub-aggregations of those 35 rows, broadcast back;
    Σ(O−E)²/E evaluates as shared formula text. Observed counts are
    integer-exact, so the only float work is the final 35-term fold
    (rounded 1e-4)."""
    ev = load_events(spark, sf)
    o = (
        ev.groupBy(
            "event_type", (F.weekday("ts") + 1).cast("long").alias("dow")
        )
        .agg((F.count("*") * F.lit(1.0)).alias("obs"))
    )
    from engine.session import scratch_cache as _sc

    o = _sc(o)
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("rtot"))
    ct = o.groupBy("dow").agg(F.sum("obs").alias("ctot"))
    g = o.agg(F.sum("obs").alias("tot"))
    exp = F.col("rtot") * F.col("ctot") / F.col("tot")
    return (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(g))
        .agg(
            F.count("*").alias("n_cells"),
            dround(
                F.sum((F.col("obs") - exp) * (F.col("obs") - exp) / exp), 4
            ).alias("chi2"),
        )
    )


# --------------------------------------------------------------------------
# Compressed CSV roundtrip (sources: compression coverage)
# --------------------------------------------------------------------------


@register(
    "scan_csv_gzip",
    sql="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem WHERE l_orderkey % 7 = 0
    GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def scan_csv_gzip(spark: SparkSession, sf: str) -> DataFrame:
    """Gzip-compressed CSV write → re-read with an explicit schema →
    aggregate, oracled against the SOURCE table (the scan_csv_roundtrip
    contract: if the compressed round trip loses or garbles anything,
    the aggregate diverges from the same SQL over the original rows).

    The compression wrinkle matters at 100 TB: gzip is NOT splittable,
    so one .csv.gz = one task regardless of size — the write keeps
    Spark's natural output partitioning (many files, each an
    independently-decompressible unit), which is exactly how a
    compressed landing zone must be laid out to preserve scan
    parallelism. Integer-exact aggregate (no float round-trip in the
    checked columns)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    from engine.session import scratch_dir

    out = scratch_dir("csv_gzip")
    li = (
        T(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .filter(F.col("l_orderkey") % 7 == 0)
    )
    li.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(out)
    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_returnflag", StringType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Week-over-week percent change (events)
# --------------------------------------------------------------------------

_WOW_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    wk AS (
      SELECT event_type, epoch_us(ts) // {_WEEK_US} AS wk,
             COUNT(*) * 1.0 AS n
      FROM e GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, wk, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
      FROM wk
    )
    SELECT event_type, wk AS week,
           CAST(n AS BIGINT) AS n_events,
           CASE WHEN prev > 0
                THEN ROUND((n - prev) / prev * 1e4) / 1e4 END AS wow_change
    FROM l ORDER BY event_type, week
"""


@register("win_percent_change_wow", sql=_WOW_SQL)
def win_percent_change_wow(spark: SparkSession, sf: str) -> DataFrame:
    """Week-over-week percent change per event type — the dashboard
    delta every metrics page leads with. Weekly rollup first (the
    shuffle carries type×week cells, not events), then one lag window
    over the tiny rollup; weeks use the exact long floordiv (the
    retention-cohort contract) and a NULL first-week/zero-prev guard
    identical on both engines. Consecutive-week semantics: lag is by
    ROW over observed weeks — a week with zero events is absent on
    both sides, so both compare against the previous OBSERVED week."""
    ev = load_events(spark, sf)
    wk = (
        ev.groupBy(
            "event_type",
            floordiv_sql("unix_micros(ts)", _WEEK_US).alias("wk"),
        )
        .agg((F.count("*") * F.lit(1.0)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("wk")
    l = wk.withColumn("prev", F.lag("n").over(w))
    chg = F.when(
        F.col("prev") > 0,
        dround((F.col("n") - F.col("prev")) / F.col("prev"), 4),
    )
    return l.select(
        "event_type",
        F.col("wk").alias("week"),
        F.col("n").cast("long").alias("n_events"),
        chg.alias("wow_change"),
    ).orderBy("event_type", "week")


# --------------------------------------------------------------------------
# Log-binned histogram (events)
# --------------------------------------------------------------------------

_LOG_HIST_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    k AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents, value
      FROM e WHERE value > 0
    )
    SELECT CAST(LENGTH(BIN(cents)) - 1 AS BIGINT) AS log2_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value) * 1e4) / 1e4 AS bin_min,
           ROUND(MAX(value) * 1e4) / 1e4 AS bin_max
    FROM k WHERE cents >= 1
    GROUP BY 1 ORDER BY log2_bin
"""


@register("agg_hist_log_bins", sql=_LOG_HIST_SQL)
def agg_hist_log_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Log₂-binned histogram — the long-tail profile a linear histogram
    (agg_hist_fixed_width) flattens: doc lengths, session values, and
    token counts are all heavy-tailed, and power-of-two bins show the
    tail in O(log range) rows. One partial-aggregable pass over the
    positive domain. The bin id is INTEGER-EXACT on both engines:
    values quantize to centi-units with the shared ROUND semantics,
    then floor(log2(k)) = LENGTH(BIN(k)) − 1 — pure integer/string
    logic, immune to the libm-vs-JVM ln() last-ulp divergence that a
    FLOOR(LN(v)/LN(2)) bin would hit exactly at the powers of two a
    money column is full of."""
    ev = load_events(spark, sf)
    cents = dround(F.col("value") * 100, 0).cast("long")
    binid = (F.length(F.bin(F.col("cents"))) - 1).cast("long")
    return (
        ev.filter(F.col("value") > 0)
        .select("value", cents.alias("cents"))
        .filter(F.col("cents") >= 1)
        .groupBy(binid.alias("log2_bin"))
        .agg(
            F.count("*").alias("n"),
            dround(F.min("value"), 4).alias("bin_min"),
            dround(F.max("value"), 4).alias("bin_max"),
        )
        .orderBy("log2_bin")
    )


# --------------------------------------------------------------------------
# Last-touch attribution (events)
# --------------------------------------------------------------------------

#: attribution lookback window, µs (7 days)
_ATTR_WINDOW_US = 7 * 86_400_000_000

_ATTRIBUTION_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    p AS (
      SELECT user_id, epoch_us(ts) AS pus, event_id AS pid
      FROM e WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id AS tid,
             event_type AS ttype
      FROM e WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT p.user_id, p.pid, t.ttype,
             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.pid
                                ORDER BY t.tus DESC, t.tid DESC) AS rn
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.tus <= p.pus AND t.tus >= p.pus - {_ATTR_WINDOW_US}
    ),
    att AS (SELECT user_id, pid, ttype FROM j WHERE rn = 1)
    SELECT COALESCE(a.ttype, 'none') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM p LEFT JOIN att a ON a.user_id = p.user_id AND a.pid = p.pid
    GROUP BY COALESCE(a.ttype, 'none') ORDER BY touch
"""


@register("win_last_touch_attribution", sql=_ATTRIBUTION_SQL)
def win_last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent view/click inside a 7-day lookback (or 'none') — the
    marketing-analytics join every growth team runs nightly.

    Scale shape: purchases ⋈ touches is an EQUI-join on user_id with
    the time window as a residual predicate (never a time-range cross
    join); per-purchase candidates are bounded by the user's touch
    count, the winning touch is a per-purchase rank-1 (WindowGroupLimit
    shape), and unattributed purchases survive via the left join. All
    time arithmetic is exact epoch-µs integers on both engines."""
    ev = load_events(spark, sf)
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("pus"), F.col("event_id").alias("pid")
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"), us.alias("tus"),
        F.col("event_id").alias("tid"), F.col("event_type").alias("ttype"),
    )
    j = p.join(
        t,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("tus") <= F.col("pus"))
        & (F.col("tus") >= F.col("pus") - _ATTR_WINDOW_US),
    )
    w = Window.partitionBy("user_id", "pid").orderBy(
        F.col("tus").desc(), F.col("tid").desc()
    )
    att = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "pid", "ttype")
    )
    return (
        p.join(att, ["user_id", "pid"], "left")
        .groupBy(F.coalesce(F.col("ttype"), F.lit("none")).alias("touch"))
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("touch")
    )


# --------------------------------------------------------------------------
# Connected-component size histogram (events affinity graph)
# --------------------------------------------------------------------------


def _wcc_sizes_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH RECURSIVE e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und),
    nodes AS (SELECT DISTINCT u FROM sym),
    reach(u, v) AS (
      SELECT u, u FROM nodes
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v
    ),
    lbl AS (SELECT u, MIN(v) AS lbl FROM reach GROUP BY u),
    comp AS (SELECT lbl, COUNT(*) AS size FROM lbl GROUP BY lbl)
    SELECT CAST(size AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components
    FROM comp GROUP BY size ORDER BY component_size
"""
    )


@register("graph_wcc_sizes", sql=_wcc_sizes_sql)
def graph_wcc_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """Weakly-connected-component size histogram of the affinity graph
    — the connectivity profile (one giant component? fragmented?) that
    decides whether graph-wide algorithms are even meaningful. Reuses
    the engine's adaptive connected-components fixpoint (driver
    union-find under the counted ceiling, distributed min-label
    propagation above it — engine.similarity.connected_components);
    the oracle recomputes the same min-label fixpoint as a recursive
    transitive closure over the shared edge CTE — integer-exact, so
    the histogram pins both the graph build and the fixpoint.

    Self-loop-free simple edges; isolated nodes don't exist in a
    cohort-ring graph (every member points somewhere), so node set =
    edge endpoints on both engines."""
    from engine.analytics import materialize_affinity_edges
    from engine.similarity import connected_components

    edges = materialize_affinity_edges(spark, sf)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    comp = connected_components(und)
    sizes = comp.groupBy("label").agg(F.count("*").alias("size"))
    return (
        sizes.groupBy(F.col("size").cast("long").alias("component_size"))
        .agg(F.count("*").alias("n_components"))
        .orderBy("component_size")
    )


# --------------------------------------------------------------------------
# Grid-blocked epsilon join (spatial self-join pattern)
# --------------------------------------------------------------------------

#: epsilon radius; the grid pitch equals it, so matching points are
#: always in the same or an adjacent cell (3×3 neighborhood).
_EPS = 4.0

_SPATIAL_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    pts AS (
      SELECT event_id AS pid, event_type,
             value AS px, (user_id * 37) % 500 * 1.0 AS py,
             CAST(FLOOR(value / {_EPS}) AS BIGINT) AS cx,
             CAST(FLOOR((user_id * 37) % 500 * 1.0 / {_EPS}) AS BIGINT) AS cy
      FROM e
    ),
    lhs AS (
      SELECT pid, event_type, px, py, cx + u.dx AS cx, cy + v.dy AS cy
      FROM pts,
           UNNEST(GENERATE_SERIES(-1, 1)) AS u(dx),
           UNNEST(GENERATE_SERIES(-1, 1)) AS v(dy)
    ),
    pairs AS (
      SELECT a.event_type,
             (a.px - b.px) * (a.px - b.px)
             + (a.py - b.py) * (a.py - b.py) AS d2
      FROM lhs a JOIN pts b ON a.cx = b.cx AND a.cy = b.cy
       AND a.pid < b.pid
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN d2 <= {_EPS} * {_EPS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_close_pairs
    FROM pairs GROUP BY event_type ORDER BY event_type
"""


@register("join_spatial_grid_eps", sql=_SPATIAL_SQL)
def join_spatial_grid_eps(spark: SparkSession, sf: str) -> DataFrame:
    """Grid-blocked ε-join — the spatial self-join pattern (DBSCAN
    neighborhoods, geo dedup, collision detection) done the only way
    that survives scale: bucket points into ε-pitched grid cells, join
    each point's 3×3 cell neighborhood AGAINST the cell index (never
    all pairs), score exact distance as a residual. Points are a
    deterministic 2-D embedding of events (x = value, y = a user hash)
    so both engines see identical doubles; d² ≤ ε² evaluates on
    identical inputs with identical arithmetic.

    Candidate volume = 9 cells × cell occupancy — linear in data for
    any fixed density, and the (cx, cy) equi-join shuffles both sides
    on the cell key; skewed hot cells split with the salting recipe.
    The a.pid < b.pid orientation dedupes pairs without a second
    distinct pass."""
    from engine.session import parallelize_scan, scan_units

    ev = parallelize_scan(load_events(spark, sf), scan_units(sf, "events"))
    px = F.col("value")
    py = ((F.col("user_id") * 37) % 500) * F.lit(1.0)
    pts = ev.select(
        F.col("event_id").alias("pid"),
        "event_type",
        px.alias("px"),
        py.alias("py"),
        F.floor(px / _EPS).cast("long").alias("cx"),
        F.floor(py / _EPS).cast("long").alias("cy"),
    )
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    lhs = (
        pts.withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "pid", "event_type", "px", "py",
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("pid").alias("bpid"), F.col("px").alias("bx"),
        F.col("py").alias("by"), F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    d2 = (F.col("px") - F.col("bx")) * (F.col("px") - F.col("bx")) + (
        F.col("py") - F.col("by")
    ) * (F.col("py") - F.col("by"))
    return (
        lhs.join(
            b,
            (F.col("cx") == F.col("bcx"))
            & (F.col("cy") == F.col("bcy"))
            & (F.col("pid") < F.col("bpid")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(d2 <= F.lit(_EPS * _EPS), 1).otherwise(0))
            .cast("long")
            .alias("n_close_pairs")
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Equi-depth histogram (events)
# --------------------------------------------------------------------------

_EQUI_DEPTH_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    q AS (
      SELECT ROUND(QUANTILE_CONT(value, 0.25) * 1e6) / 1e6 AS q1,
             ROUND(QUANTILE_CONT(value, 0.50) * 1e6) / 1e6 AS q2,
             ROUND(QUANTILE_CONT(value, 0.75) * 1e6) / 1e6 AS q3
      FROM e
    )
    SELECT CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
                WHEN value <= q3 THEN 2 ELSE 3 END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value) * 1e4) / 1e4 AS lo,
           ROUND(MAX(value) * 1e4) / 1e4 AS hi
    FROM e CROSS JOIN q
    GROUP BY 1 ORDER BY bucket
"""


@register("agg_hist_equi_depth", sql=_EQUI_DEPTH_SQL)
def agg_hist_equi_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (quartile-boundary) histogram — the optimizer-style
    statistic where every bucket holds ~25% of rows and the BOUNDARIES
    carry the information (vs the fixed-width and log-bin variants
    already in the inventory). Two passes: the exact quartiles reduce
    in one grouped sort (shared (n−1)·p interpolation definition,
    rounded 1e-6 before bucketing so the cut points are bit-identical
    across engines), broadcast back as three scalars; bucketing is a
    narrow CASE pass with a partial-aggregable rollup."""
    ev = load_events(spark, sf)
    q = ev.agg(
        F.percentile("value", F.lit([0.25, 0.50, 0.75])).alias("qs")
    ).select(
        dround(F.col("qs").getItem(0), 6).alias("q1"),
        dround(F.col("qs").getItem(1), 6).alias("q2"),
        dround(F.col("qs").getItem(2), 6).alias("q3"),
    )
    v = F.col("value")
    bucket = (
        F.when(v <= F.col("q1"), 0)
        .when(v <= F.col("q2"), 1)
        .when(v <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        ev.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            dround(F.min(v), 4).alias("lo"),
            dround(F.max(v), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Token-budget shard planning (documents)
# --------------------------------------------------------------------------

_SHARD_BUDGET = 20_000  # tokens per output shard (per source)

_SHARD_PLAN_SQL = f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM t
    )
    SELECT source, CAST(before // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM c GROUP BY source, before // {_SHARD_BUDGET}
    ORDER BY source, shard_id
"""


@register("pipeline_shard_plan", sql=_SHARD_PLAN_SQL)
def pipeline_shard_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget shard planning — the export step that turns a
    cleaned corpus into ~equal-token output files (webdataset/
    Megatron-style shards): docs are assigned, in stable doc_id order
    per source, to the shard whose running token offset they start in.
    The plan is the audit relation (docs/tokens/first doc per shard);
    the actual write is partitionBy(source, shard_id).

    One window pass per source computes the exclusive running offset
    (integer-exact, same floordiv on both engines); the per-source
    partitioning is what keeps the cumulative sum distributed — the
    pack_sequences discipline at shard granularity rather than
    2048-token sequence granularity."""
    d = T(spark, sf, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    t = d.select("source", "doc_id", n_tok.alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "before", F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    )
    shard = F.expr(f"(before - pmod(before, {_SHARD_BUDGET})) div {_SHARD_BUDGET}")
    return (
        c.groupBy("source", shard.alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("source", "shard_id")
    )


# --------------------------------------------------------------------------
# Markov transition matrix over event sequences
# --------------------------------------------------------------------------

_MARKOV_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    seq AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM e
    ),
    pairs AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
    c AS (SELECT cur, nxt, COUNT(*) AS n FROM pairs GROUP BY cur, nxt),
    tot AS (SELECT cur, SUM(n) AS t FROM c GROUP BY cur)
    SELECT c.cur, c.nxt,
           CAST(c.n AS BIGINT) AS n,
           ROUND(c.n / (tot.t * 1.0) * 1e6) / 1e6 AS p
    FROM c JOIN tot USING (cur)
    ORDER BY cur, nxt
"""


@register("agg_markov_transitions", sql=_MARKOV_SQL)
def agg_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral model behind next-action prediction and
    session simulation: P(next | current) estimated from every adjacent
    event pair, ordered by (ts, event_id) within user.

    One lead-window pass behind a single user_id shuffle builds the
    pair stream; the matrix is two nested partial-aggregable rollups
    (25 cells for 5 event types); probabilities divide exact integer
    counts (identical doubles on both engines, rounded 1e-6 out of
    habit, not need)."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    tot = c.groupBy("cur").agg(F.sum("n").alias("t"))
    return (
        c.join(F.broadcast(tot), "cur")
        .select(
            "cur",
            "nxt",
            F.col("n").cast("long").alias("n"),
            dround(F.col("n") / (F.col("t") * F.lit(1.0)), 6).alias("p"),
        )
        .orderBy("cur", "nxt")
    )


# --------------------------------------------------------------------------
# Incremental dedup against persisted state (documents)
# --------------------------------------------------------------------------


def _seen_state_path(sf: str) -> str:
    from engine.session import artifact_path

    return artifact_path("dedup_state", sf, ("documents",), "seen")


_INCREMENTAL_DEDUP_SQL = """
    WITH seen AS (
      SELECT DISTINCT MD5(TRIM(LOWER(text))) AS h
      FROM documents WHERE doc_id % 2 = 0
    ),
    today AS (
      SELECT doc_id, source, MD5(TRIM(LOWER(text))) AS h
      FROM documents WHERE doc_id % 2 = 1
    ),
    flagged AS (
      SELECT t.doc_id, t.source,
             CASE WHEN s.h IS NULL THEN 0 ELSE 1 END AS dup
      FROM today t LEFT JOIN seen s USING (h)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dup) AS BIGINT) AS n_already_seen,
           CAST(COUNT(*) - SUM(dup) AS BIGINT) AS n_new
    FROM flagged GROUP BY source ORDER BY source
"""


@register("pipeline_incremental_dedup", sql=_INCREMENTAL_DEDUP_SQL)
def pipeline_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingestion dedup — the shape a DAILY pipeline runs:
    yesterday's normalized content hashes are PERSISTED state (here the
    even-doc_id half, an engine.session.artifact); today's batch (odd
    half) left-joins that state to split already-seen from genuinely new
    docs. This is the batch twin
    of stream_dedup_watermark's in-flight state — at 100 TB the state
    table is itself partitioned/bucketed BY HASH so the daily anti-join
    is co-located, and compaction of the state is an append-only merge.

    The hash is md5 of trim(lower(text)) — the dedup_exact normalize
    contract — evaluated identically by both engines; counts are
    integer-exact."""
    from engine.session import artifact, parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    h = F.md5(F.trim(F.lower(F.col("text"))))

    def build(tmp: str) -> None:
        d.filter(F.col("doc_id") % 2 == 0).select(h.alias("h")).distinct().write.mode(
            "overwrite"
        ).parquet(tmp)

    path = artifact(_seen_state_path(sf), build)
    seen = spark.read.parquet(path)
    today = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", h.alias("h")
    )
    flagged = today.join(
        seen.withColumn("dup", F.lit(1)), "h", "left"
    ).select("source", F.coalesce(F.col("dup"), F.lit(0)).alias("dup"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dup").cast("long").alias("n_already_seen"),
            (F.count("*") - F.sum("dup")).cast("long").alias("n_new"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Quality-threshold retention curve (documents)
# --------------------------------------------------------------------------

_THRESH_SWEEP_SQL = """
    WITH s AS (
      SELECT doc_id,
             CAST(LEAST(9, LEN(STRING_SPLIT(text, ' ')) // 20) AS BIGINT)
               AS bucket
      FROM documents
    ),
    h AS (SELECT bucket, COUNT(*) AS n FROM s GROUP BY bucket),
    grid AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS t),
    c AS (
      SELECT g.t AS threshold_bucket,
             SUM(CASE WHEN h.bucket >= g.t THEN h.n ELSE 0 END) AS kept,
             SUM(h.n) AS total
      FROM grid g CROSS JOIN h GROUP BY g.t
    )
    SELECT threshold_bucket,
           CAST(kept AS BIGINT) AS n_kept,
           ROUND(kept / (total * 1.0) * 1e6) / 1e6 AS frac_kept
    FROM c ORDER BY threshold_bucket
"""


@register("pipeline_threshold_sweep", sql=_THRESH_SWEEP_SQL)
def pipeline_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Filter-threshold retention curve — the sweep run when TUNING a
    quality filter: for every candidate cutoff, how much of the corpus
    survives? Computed the scalable way: score each doc once (here a
    length-bucket proxy, ≤9), reduce to a 10-bucket histogram, then
    derive the WHOLE curve from the tiny histogram × threshold grid —
    never one corpus pass per threshold (the naive sweep is T full
    scans; this is one scan + a 100-cell cross of aggregates)."""
    d = T(spark, sf, "documents")
    bucket = F.least(
        F.lit(9), F.expr("size(split(text, ' ')) div 20")
    ).cast("long")
    h = d.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n")
    )
    grid = spark.range(0, 10).select(F.col("id").alias("t"))
    c = (
        grid.crossJoin(F.broadcast(h))
        .groupBy(F.col("t").alias("threshold_bucket"))
        .agg(
            F.sum(F.when(F.col("bucket") >= F.col("t"), F.col("n")).otherwise(0))
            .alias("kept"),
            F.sum("n").alias("total"),
        )
    )
    return c.select(
        "threshold_bucket",
        F.col("kept").cast("long").alias("n_kept"),
        dround(F.col("kept") / (F.col("total") * F.lit(1.0)), 6).alias(
            "frac_kept"
        ),
    ).orderBy("threshold_bucket")


# --------------------------------------------------------------------------
# Join-key skew report (lineitem)
# --------------------------------------------------------------------------

_SKEW_REPORT_SQL = """
    WITH k AS (
      SELECT 'l_orderkey' AS col, l_orderkey AS key FROM lineitem
      UNION ALL
      SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', l_suppkey FROM lineitem
    ),
    c AS (SELECT col, key, COUNT(*) AS n FROM k GROUP BY col, key),
    s AS (
      SELECT col, COUNT(*) AS n_distinct, SUM(n) AS total,
             MAX(n) AS max_n,
             ROUND(QUANTILE_CONT(n, 0.99) * 1e4) / 1e4 AS p99_n
      FROM c GROUP BY col
    )
    SELECT col,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(max_n AS BIGINT) AS max_rows_one_key,
           ROUND(max_n / (total / (n_distinct * 1.0)) * 1e4) / 1e4
             AS max_to_mean,
           p99_n
    FROM s ORDER BY col
"""


@register("agg_join_key_skew_report", sql=_SKEW_REPORT_SQL)
def agg_join_key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew report — the pre-flight a pipeline runs BEFORE
    choosing a join strategy: per candidate key column, distinct
    count, the heaviest key's row count, its ratio to the mean key
    (the hot-partition factor a shuffle join would see), and the p99
    per-key count. max_to_mean ≈ 1 → hash join partitions evenly;
    ≫ 1 → salt or AQE-skew-split that key.

    One unioned pass builds (col, key) pairs; per-key counts and the
    per-column rollup are both partial-aggregable — three fact scans
    collapse to one via the union, and the skew stats relation is
    3 rows."""
    li = T(spark, sf, "lineitem")
    parts = [
        li.select(F.lit(c).alias("col"), F.col(c).alias("key"))
        for c in ("l_orderkey", "l_partkey", "l_suppkey")
    ]
    k = parts[0].unionAll(parts[1]).unionAll(parts[2])
    c = k.groupBy("col", "key").agg(F.count("*").alias("n"))
    s = c.groupBy("col").agg(
        F.count("*").alias("n_distinct"),
        F.sum("n").alias("total"),
        F.max("n").alias("max_n"),
        dround(F.percentile("n", F.lit(0.99)), 4).alias("p99_n"),
    )
    return s.select(
        "col",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("max_n").cast("long").alias("max_rows_one_key"),
        dround(
            F.col("max_n") / (F.col("total") / (F.col("n_distinct") * F.lit(1.0))),
            4,
        ).alias("max_to_mean"),
        F.col("p99_n"),
    ).orderBy("col")


# --------------------------------------------------------------------------
# Degree assortativity (events affinity graph)
# --------------------------------------------------------------------------


def _assortativity_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT u, COUNT(*) * 1.0 AS d FROM sym GROUP BY u),
    pairs AS (
      SELECT da.d AS x, db.d AS y
      FROM sym JOIN deg da ON da.u = sym.u JOIN deg db ON db.u = sym.v
    ),
    s AS (
      SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy)
                           / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
                           * 1e4) / 1e4 END AS assortativity
    FROM s
"""
    )


@register("graph_assortativity", sql=_assortativity_sql)
def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the affinity graph — do hubs link to
    hubs (r > 0, social-network-like) or to leaves (r < 0,
    infrastructure-like)? The one-number structure summary that
    predicts how badly hot keys will collide in graph joins. Pearson
    over (deg u, deg v) across SYMMETRIZED edge ends, computed with
    the shared six-sum formula (the ts_autocorr recipe — built-in corr
    corrections differ across engines); degrees join back onto the
    edge list as a broadcast (node-count-sized)."""
    from engine.analytics import materialize_affinity_edges

    edges = materialize_affinity_edges(spark, sf)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    und = scratch_cache(und)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    sym = scratch_cache(sym)
    deg = sym.groupBy("u").agg((F.count("*") * F.lit(1.0)).alias("d"))
    da = deg.select(F.col("u").alias("uu"), F.col("d").alias("x"))
    db = deg.select(F.col("u").alias("vv"), F.col("d").alias("y"))
    pairs = sym.join(F.broadcast(da), sym["u"] == da["uu"]).join(
        F.broadcast(db), sym["v"] == db["vv"]
    )
    x, y = F.col("x"), F.col("y")
    s = pairs.agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    r = F.when(
        (vx > 0) & (vy > 0), dround((n * sxy - sx * sy) / F.sqrt(vx * vy), 4)
    )
    return s.select(
        n.cast("long").alias("n_edge_ends"), r.alias("assortativity")
    )


# --------------------------------------------------------------------------
# Step detection: largest day-over-day level shift (events)
# --------------------------------------------------------------------------

_STEP_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             SUM(value) AS v
      FROM e GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, day, v,
             v - LAG(v) OVER (PARTITION BY event_type ORDER BY day)
               AS diff
      FROM daily
    )
    SELECT event_type, step_day,
           ROUND(step * 1e4) / 1e4 AS step_size,
           n_days_compared
    FROM (
      SELECT event_type, day AS step_day, diff AS step,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days_compared,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(diff) DESC, day DESC) AS rn
      FROM d WHERE diff IS NOT NULL) t
    WHERE rn = 1 ORDER BY event_type
"""


@register("ts_step_detection", sql=_STEP_SQL)
def ts_step_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Largest day-over-day level shift per metric — the cheap change-
    point detector a monitoring pipeline runs before anything fancier:
    daily rollup (partial-aggregable; the window then runs over
    days-sized data, not events), consecutive-day diff via lag, and
    the argmax via an EXPLICIT total order (|diff| desc, day desc) —
    max_by/ARG_MAX tie semantics follow engine scan order, so a rank
    window with a full tie-break key is the portable argmax."""
    ev = load_events(spark, sf)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.withColumn("diff", F.col("v") - F.lag("v").over(w)).filter(
        F.col("diff").isNotNull()
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs("diff").desc(), F.col("day").desc()
    )
    return (
        d.withColumn("rn", F.row_number().over(wr))
        .withColumn(
            "n_days_compared",
            F.count("*").over(Window.partitionBy("event_type")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("step_day"),
            dround(F.col("diff"), 4).alias("step_size"),
            F.col("n_days_compared").cast("long"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Population stability index (documents: drift monitor)
# --------------------------------------------------------------------------

_PSI_SQL = """
    WITH s AS (
      SELECT doc_id % 2 AS half,
             CAST(LEAST(9, LEN(STRING_SPLIT(text, ' ')) // 20) AS BIGINT)
               AS bucket
      FROM documents
    ),
    c AS (SELECT half, bucket, COUNT(*) AS n FROM s GROUP BY half, bucket),
    tot AS (SELECT half, SUM(n) AS t FROM c GROUP BY half),
    grid AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bucket),
    p AS (
      SELECT g.bucket, tot.half,
             (COALESCE(c.n, 0) + 0.5) / (tot.t + 5.0) AS p
      FROM grid g CROSS JOIN tot
      LEFT JOIN c ON c.bucket = g.bucket AND c.half = tot.half
    ),
    w AS (
      SELECT a.bucket, a.p AS pa, b.p AS pb
      FROM (SELECT bucket, p FROM p WHERE half = 0) a
      JOIN (SELECT bucket, p FROM p WHERE half = 1) b USING (bucket)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(SUM((pa - pb) * LN(pa / pb)) * 1e6) / 1e6 AS psi
    FROM w
"""


@register("agg_psi_drift", sql=_PSI_SQL)
def agg_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population stability index between two corpus halves (the
    deterministic doc_id split standing in for yesterday-vs-today) over
    the length-bucket distribution — THE drift alarm run between
    pipeline snapshots (PSI < 0.1 stable, > 0.25 investigate).
    Probabilities are smoothed OVER THE FULL BUCKET GRID
    ((n+½)/(t+5) with n=0 for absent buckets), so the log stays finite
    and the metric defined even when the two snapshots occupy DISJOINT
    buckets — the maximal-drift case a shared-buckets-only join would
    silently return NULL for (caught by the planted shifted-halves
    test).

    Both halves histogram in ONE pass over the corpus (group by half ×
    bucket, 20 cells), the PSI fold runs on the 10-row joined bucket
    relation — a second snapshot at 100 TB only ever contributes its
    own 10-cell histogram."""
    d = T(spark, sf, "documents")
    bucket = F.least(
        F.lit(9), F.expr("size(split(text, ' ')) div 20")
    ).cast("long")
    s = d.select((F.col("doc_id") % 2).alias("half"), bucket.alias("bucket"))
    c = s.groupBy("half", "bucket").agg(F.count("*").alias("n"))
    tot = c.groupBy("half").agg(F.sum("n").alias("t"))
    grid = spark.range(0, 10).select(F.col("id").alias("bucket"))
    p = (
        grid.crossJoin(F.broadcast(tot))
        .join(F.broadcast(c), ["bucket", "half"], "left")
        .select(
            "bucket",
            "half",
            ((F.coalesce(F.col("n"), F.lit(0)) + 0.5) / (F.col("t") + 5.0)).alias("p"),
        )
    )
    a = p.filter(F.col("half") == 0).select("bucket", F.col("p").alias("pa"))
    b = p.filter(F.col("half") == 1).select("bucket", F.col("p").alias("pb"))
    w = a.join(b, "bucket")
    return w.agg(
        F.count("*").alias("n_buckets"),
        dround(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            6,
        ).alias("psi"),
    )


# --------------------------------------------------------------------------
# Classifier evaluation: langid confusion matrix (documents)
# --------------------------------------------------------------------------


def _langid_confusion_sql() -> str:
    from engine.text import _LANGID_ARGMAX_SQL, _LANGID_SCORES_SQL

    return f"""
    WITH pred AS (
      SELECT lang, {_LANGID_ARGMAX_SQL} AS pred_lang
      FROM (SELECT lang, {_LANGID_SCORES_SQL} FROM documents) t
    )
    SELECT lang AS actual, pred_lang AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / (SUM(COUNT(*)) OVER (PARTITION BY lang) * 1.0)
                 * 1e6) / 1e6 AS row_frac
    FROM pred GROUP BY lang, pred_lang
    ORDER BY actual, predicted
"""


@register("text_langid_confusion", sql=_langid_confusion_sql)
def text_langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the gold
    lang labels — the evaluation every classifier-in-the-pipeline needs
    NEXT TO the classifier itself (text_langid ships predictions; this
    key grades them). Cells carry the count and the row-normalized
    fraction (per-actual recall mass).

    Single narrow scoring pass reusing text_langid's exact marker
    expressions (single source of truth — the oracle reuses the same
    SQL fragments), one ≤25-cell aggregation, a window over the tiny
    matrix for row fractions."""
    from engine.text import LANGID_MARKERS

    d = T(spark, sf, "documents")
    toks = F.array_distinct(F.split("text", " "))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in marks])))
        for lang, marks in LANGID_MARKERS.items()
    }
    scored = d.select(
        "lang", *[scores[lang].alias(f"s_{lang}") for lang in scores]
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANGID_MARKERS])
    pred = F.when(F.col("s_en") >= best, "en")
    for lang in ("es", "fr", "de", "zh"):
        pred = pred.when(F.col(f"s_{lang}") >= best, lang)
    c = (
        scored.select(F.col("lang").alias("actual"), pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("actual")
    return (
        c.select(
            "actual",
            "predicted",
            "n",
            dround(F.col("n") / (F.sum("n").over(w) * F.lit(1.0)), 6).alias(
                "row_frac"
            ),
        )
        .orderBy("actual", "predicted")
    )


# --------------------------------------------------------------------------
# Robust trimmed mean (events)
# --------------------------------------------------------------------------

_TRIMMED_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    q AS (
      SELECT event_type,
             ROUND(QUANTILE_CONT(value, 0.10) * 1e6) / 1e6 AS lo,
             ROUND(QUANTILE_CONT(value, 0.90) * 1e6) / 1e6 AS hi
      FROM e GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN value >= q.lo AND value <= q.hi
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN value >= q.lo AND value <= q.hi
                     THEN value END)
                 / SUM(CASE WHEN value >= q.lo AND value <= q.hi
                       THEN 1 END) * 1e4) / 1e4 AS trimmed_mean,
           ROUND(AVG(value) * 1e4) / 1e4 AS raw_mean
    FROM e JOIN q USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
"""


@register("agg_trimmed_mean", sql=_TRIMMED_SQL)
def agg_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """10%-trimmed mean per group next to the raw mean — the robust
    location estimate that survives the fat tails raw averages drown
    in. Two passes: exact decile cut points (one grouped sort, rounded
    1e-6 so both engines trim at bit-identical fences — the equi-depth
    recipe) broadcast back onto the fact; the trimmed aggregate is a
    conditional partial-aggregable sum."""
    ev = load_events(spark, sf)
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit([0.10, 0.90])).alias("qs")
    ).select(
        "event_type",
        dround(F.col("qs").getItem(0), 6).alias("lo"),
        dround(F.col("qs").getItem(1), 6).alias("hi"),
    )
    inb = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(inb, 1).otherwise(0)).cast("long").alias("n_kept"),
            dround(
                F.sum(F.when(inb, F.col("value")))
                / F.sum(F.when(inb, 1)),
                4,
            ).alias("trimmed_mean"),
            dround(F.avg("value"), 4).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Sorted clustered write, layout value-checked from parquet footers
# --------------------------------------------------------------------------


def _sorted_write_path(sf: str) -> str:
    from engine.session import artifact_path

    return artifact_path("sorted_write", sf, ("lineitem",), "li")


def _sorted_write_oracle_sql() -> str:
    from engine.session import oracle_sf

    path = _sorted_write_path(oracle_sf())
    return f"""
    SELECT parse_filename(file_name) AS fname,
           CAST(row_group_id AS BIGINT) AS rg,
           row_group_num_rows AS n_rows,
           CAST(stats_min_value AS BIGINT) AS k_min,
           CAST(stats_max_value AS BIGINT) AS k_max
    FROM parquet_metadata('{path}/*.parquet')
    WHERE path_in_schema = 'k'
    ORDER BY fname, rg
"""


@register("sink_sorted_clustered_write", sql=_sorted_write_oracle_sql)
def sink_sorted_clustered_write(spark: SparkSession, sf: str) -> DataFrame:
    """Range-clustered sorted write — and a check that the LAYOUT
    ITSELF landed: lineitem is written repartitionByRange +
    sortWithinPartitions on an epoch-µs ship-date key, then BOTH
    engines read the parquet FOOTERS of the same files (pyarrow here,
    DuckDB parquet_metadata in the oracle) and report per-row-group
    (rows, min, max). This is the property that makes time-range scans
    prune at 100 TB — min/max stats that actually partition the key
    space (non-overlap asserted in tests) — verified from the physical
    artifact rather than assumed from the plan.

    The write is an artifact (engine.session.artifact); the metadata
    probe is JVM-free (the scan_units precedent), row
    counts and key bounds are exact integers on both engines."""
    import pathlib

    import pyarrow.parquet as pq

    from engine.session import artifact

    def build(tmp: str) -> None:
        li = T(spark, sf, "lineitem").select(
            F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("k"),
            "l_orderkey",
            "l_quantity",
        )
        li.repartitionByRange(8, "k").sortWithinPartitions("k").write.mode(
            "overwrite"
        ).parquet(tmp)

    path = artifact(_sorted_write_path(sf), build)
    rows = []
    for f in sorted(pathlib.Path(path).glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["k"]
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            rows.append(
                (
                    f.name,
                    rg,
                    md.row_group(rg).num_rows,
                    int(col.statistics.min),
                    int(col.statistics.max),
                )
            )
    return tiny_df(
        spark, rows, "fname string, rg long, n_rows long, k_min long, k_max long"
    ).orderBy("fname", "rg")


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov statistic (events)
# --------------------------------------------------------------------------

_KS_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    s AS (
      SELECT value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM e WHERE event_type IN ('view', 'purchase')
    ),
    g AS (
      SELECT value, SUM(ia) AS na_v, SUM(ib) AS nb_v
      FROM s GROUP BY value
    ),
    c AS (
      SELECT value,
             SUM(na_v) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(nb_v) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             SUM(na_v) OVER () AS na, SUM(nb_v) OVER () AS nb
      FROM g
    )
    SELECT CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(ca / (na * 1.0) - cb / (nb * 1.0))) * 1e6) / 1e6
             AS ks_stat
    FROM c
"""


@register("agg_ks_statistic", sql=_KS_SQL)
def agg_ks_statistic(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the 'view' and
    'purchase' value distributions — the distribution-level A/B
    read-out that catches shape changes a mean test (agg_ab_test_welch)
    misses. D = max |ECDF_a − ECDF_b| evaluated at every distinct
    value: per-value arm counts are one partial-aggregable pass, the
    ECDFs are cumulative windows over the DISTINCT-value relation
    (orders smaller than the data), and the cumulative counts are exact
    integers so the ECDF division is bit-identical on both engines.
    The global-order window is over distinct values only — the
    documented export-only single-reducer class (value is a double, so
    at 100 TB distinct ≈ rows); the scale path is the quantized +
    bucketed twin :func:`agg_ks_banded`."""
    ev = load_events(spark, sf)
    s = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "value",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
    )
    g = s.groupBy("value").agg(
        F.sum("ia").alias("na_v"), F.sum("ib").alias("nb_v")
    )
    wc = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    c = g.select(
        F.sum("na_v").over(wc).alias("ca"),
        F.sum("nb_v").over(wc).alias("cb"),
        F.sum("na_v").over(wall).alias("na"),
        F.sum("nb_v").over(wall).alias("nb"),
    )
    return c.agg(
        F.first("na").cast("long").alias("n_a"),
        F.first("nb").cast("long").alias("n_b"),
        dround(
            F.max(
                F.abs(
                    F.col("ca") / (F.col("na") * F.lit(1.0))
                    - F.col("cb") / (F.col("nb") * F.lit(1.0))
                )
            ),
            6,
        ).alias("ks_stat"),
    )


# --------------------------------------------------------------------------
# Banded (scale-safe) twins of the KS / Mann–Whitney rank statistics
# --------------------------------------------------------------------------

#: shared quantized two-arm CTE: `value` snaps to the cents grid (the
#: agg_benford_first_digit idiom — ROUND semantics shared with dround),
#: so the distinct relation is bounded by the grid, not the row count.
_QUANT_ARMS_CTE = f"""
    WITH e AS ({EVENTS_US_SQL}),
    s AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS q,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM e WHERE event_type IN ('view', 'purchase')
    ),
    g AS (
      SELECT q, SUM(ia) AS na_v, SUM(ib) AS nb_v
      FROM s GROUP BY q
    )
"""


def _quantized_arm_buckets(
    spark: SparkSession, sf: str, n_buckets: int = 32
) -> tuple[DataFrame, list]:
    """(q, na_v, nb_v, bucket) relation for the banded rank statistics:
    per-quantized-value arm counts, range-bucketed by width_bucket so
    every downstream cumulative window runs partitioned by bucket.
    Returns the bucketed relation plus the collected per-bucket arm
    totals (≤ n_buckets tiny rows — the only driver traffic)."""
    ev = load_events(spark, sf)
    cents = dround(F.col("value") * 100, 0).cast("long")
    s = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        cents.alias("q"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
    )
    g = s.groupBy("q").agg(F.sum("ia").alias("na_v"), F.sum("ib").alias("nb_v"))
    lo, hi = g.agg(F.min("q"), F.max("q")).first()
    bucketed = g.withColumn(
        "bucket",
        F.width_bucket(
            F.col("q"), F.lit(float(lo)), F.lit(float(hi) + 1.0), n_buckets
        ),
    )
    totals = (
        bucketed.groupBy("bucket")
        .agg(F.sum("na_v").alias("ba"), F.sum("nb_v").alias("bb"))
        .collect()
    )
    return bucketed, sorted(totals, key=lambda r: r["bucket"])


_KS_BANDED_SQL = (
    _QUANT_ARMS_CTE
    + """,
    c AS (
      SELECT q,
             SUM(na_v) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(nb_v) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             SUM(na_v) OVER () AS na, SUM(nb_v) OVER () AS nb
      FROM g
    )
    SELECT CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
           ROUND(MAX(ABS(ca / (na * 1.0) - cb / (nb * 1.0))) * 1e6) / 1e6
             AS ks_stat
    FROM c
"""
)


@register("agg_ks_banded", sql=_KS_BANDED_SQL)
def agg_ks_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Banded two-sample KS statistic — the 100 TB twin of
    :func:`agg_ks_statistic` (VERDICT r6 task 5: `value` is a double,
    so at scale distinct values ≈ rows and the exact key's global-order
    window over the distinct relation becomes a single-reducer sort).

    Two changes make it scale: (1) values QUANTIZE to the cents grid,
    bounding the distinct relation by the grid (D on the quantized
    ECDFs — for KS this loses nothing when data are prices; in general
    it is the standard binned-KS bound); (2) the cumulative arm counts
    decompose via the width_bucket + broadcast-offset merge
    (win_pctrank_bucketed recipe): per-bucket windows run
    hash-partition parallel and only ≤32 (bucket, arm-total) rows
    touch the driver. The oracle replays the SAME quantized statistic
    with a plain global window — proving the decomposition exact on
    the grid. ECDF divisions are exact-int / exact-int in IEEE double
    on both engines, rounded 1e-6."""
    bucketed, totals = _quantized_arm_buckets(spark, sf)
    offa, offb, acca, accb = {}, {}, 0, 0
    for r in totals:
        offa[r["bucket"]] = acca
        offb[r["bucket"]] = accb
        acca += r["ba"]
        accb += r["bb"]
    na, nb = acca, accb
    offa_map = F.create_map(*[F.lit(x) for kv in offa.items() for x in kv])
    offb_map = F.create_map(*[F.lit(x) for kv in offb.items() for x in kv])
    wc = (
        Window.partitionBy("bucket")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = bucketed.select(
        (F.sum("na_v").over(wc) + offa_map[F.col("bucket")]).alias("ca"),
        (F.sum("nb_v").over(wc) + offb_map[F.col("bucket")]).alias("cb"),
    )
    return c.agg(
        dround(
            F.max(
                F.abs(
                    F.col("ca") / F.lit(float(na)) - F.col("cb") / F.lit(float(nb))
                )
            ),
            6,
        ).alias("ks_stat")
    ).select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        "ks_stat",
    )


_MWU_BANDED_SQL = (
    _QUANT_ARMS_CTE
    + """,
    g2 AS (SELECT q, na_v AS ca, nb_v AS cb, na_v + nb_v AS t FROM g),
    r AS (
      SELECT ca, cb, t,
             COALESCE(SUM(t) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM g2
    ),
    agg AS (
      SELECT SUM(ca) * 1.0 AS na, SUM(cb) * 1.0 AS nb,
             SUM(ca * (before + (t + 1) / 2.0)) AS ra,
             SUM(t * t * t - t) * 1.0 AS ties
      FROM r
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ra - na * (na + 1) / 2) * 1e4) / 1e4 AS u_stat,
           ROUND(((ra - na * (na + 1) / 2) - na * nb / 2)
                 / SQRT(na * nb / 12
                        * ((na + nb + 1)
                           - ties / ((na + nb) * (na + nb - 1))))
                 * 1e4) / 1e4 AS z_score
    FROM agg
"""
)


@register("agg_mwu_banded", sql=_MWU_BANDED_SQL)
def agg_mwu_banded(spark: SparkSession, sf: str) -> DataFrame:
    """Banded Mann–Whitney U — the 100 TB twin of
    :func:`agg_mann_whitney_u`, same decomposition as
    :func:`agg_ks_banded`: cents-grid quantization bounds the distinct
    relation (midranks on the grid ARE the tie-corrected midranks of
    the quantized data — U on binned data is the standard
    grouped-ranks statistic), and the exclusive cumulative count
    `before` splits into a per-bucket window plus a broadcast bucket
    offset. Rank sums stay exact multiples of ½ (integer counts), so
    both engines agree bit-for-bit up to the final standardized
    division (shared formula text, rounded 1e-4)."""
    bucketed, totals = _quantized_arm_buckets(spark, sf)
    offt, acct = {}, 0
    for r in totals:
        offt[r["bucket"]] = acct
        acct += r["ba"] + r["bb"]
    offt_map = F.create_map(*[F.lit(x) for kv in offt.items() for x in kv])
    wb = (
        Window.partitionBy("bucket")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = bucketed.select(
        F.col("na_v").alias("ca"),
        F.col("nb_v").alias("cb"),
        (F.col("na_v") + F.col("nb_v")).alias("t"),
        (
            F.coalesce(F.sum(F.col("na_v") + F.col("nb_v")).over(wb), F.lit(0))
            + offt_map[F.col("bucket")]
        ).alias("before"),
    )
    agg = g2.agg(
        (F.sum("ca") * F.lit(1.0)).alias("na"),
        (F.sum("cb") * F.lit(1.0)).alias("nb"),
        F.sum(
            F.col("ca") * (F.col("before") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("ra"),
        (
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")) * F.lit(1.0)
        ).alias("ties"),
    )
    na, nb, ra, ties = (F.col(c) for c in ("na", "nb", "ra", "ties"))
    u = ra - na * (na + 1) / 2
    var = na * nb / 12 * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        dround(u, 4).alias("u_stat"),
        dround((u - na * nb / 2) / F.sqrt(var), 4).alias("z_score"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit (events)
# --------------------------------------------------------------------------

_BENFORD_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    k AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM e WHERE value > 0
    ),
    d AS (
      SELECT CAST(SUBSTR(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM k WHERE cents >= 1
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) / (SUM(COUNT(*)) OVER () * 1.0) * 1e6) / 1e6
             AS observed_freq,
           ROUND(LOG10(1.0 + 1.0 / digit) * 1e6) / 1e6 AS benford_freq
    FROM d GROUP BY digit ORDER BY digit
"""


@register("agg_benford_first_digit", sql=_BENFORD_SQL)
def agg_benford_first_digit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-significant-digit profile — the classic synthetic-
    data / fraud / unit-mixup audit: natural multiplicative data
    follows log10(1+1/d); flat or spiked digit profiles flag generated
    or truncated values. The digit is INTEGER-EXACT: values quantize
    to cents with the shared ROUND semantics and the first digit comes
    from the decimal string — no float log in the bucketing path
    (log10 appears only in the reference column, where both engines
    compute it from the same small integers). One narrow pass + a
    9-row rollup."""
    ev = load_events(spark, sf)
    cents = dround(F.col("value") * 100, 0).cast("long")
    d = (
        ev.filter(F.col("value") > 0)
        .select(cents.alias("cents"))
        .filter(F.col("cents") >= 1)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
    )
    w = Window.partitionBy()
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .select(
            "digit",
            "n",
            dround(F.col("n") / (F.sum("n").over(w) * F.lit(1.0)), 6).alias(
                "observed_freq"
            ),
            dround(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
                "benford_freq"
            ),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Peak concurrency via sweep line (events)
# --------------------------------------------------------------------------

#: synthetic session length per event, µs (5 minutes)
_SESSION_US = 300_000_000

_PEAK_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    iv AS (
      SELECT event_type, epoch_us(ts) AS t0,
             epoch_us(ts) + {_SESSION_US} AS t1
      FROM e
    ),
    pts AS (
      SELECT event_type, t0 AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, t1 AS t, -1 FROM iv
    ),
    sw AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
               ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
      FROM pts
    )
    SELECT event_type, CAST(MAX(load) AS BIGINT) AS peak_concurrency
    FROM sw GROUP BY event_type ORDER BY event_type
"""


@register("win_peak_concurrency", sql=_PEAK_SQL)
def win_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrency by sweep line — the interval-stabbing maximum
    (max sessions alive at any instant) that capacity planning runs on
    session tables: each event opens a 5-minute interval, endpoints
    become ±1 deltas, a running sum over the ordered endpoint stream is
    the live-session count, its max the peak. Tie order pinned (t, then
    delta ASC so closes at -1 sort BEFORE opens at +1 — half-open
    interval semantics, identical on both engines; integer-exact µs).

    The per-type endpoint sort is the honest cost; at 100 TB the sweep
    runs per (type, day) partition with per-partition carry-in offsets
    (the two-phase prefix-sum recipe)."""
    ev = load_events(spark, sf)
    us = F.unix_micros(F.col("ts"))
    iv = ev.select("event_type", us.alias("t0"), (us + _SESSION_US).alias("t1"))
    pts = iv.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sw = pts.select("event_type", F.sum("delta").over(w).alias("load"))
    return (
        sw.groupBy("event_type")
        .agg(F.max("load").cast("long").alias("peak_concurrency"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Per-document character entropy (documents)
# --------------------------------------------------------------------------

_CHAR_ENTROPY_SQL = """
    WITH ch AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, '')) AS c
      FROM documents WHERE LENGTH(text) > 0
    ),
    f AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c),
    t AS (SELECT doc_id, SUM(n) AS tot FROM f GROUP BY doc_id)
    SELECT f.doc_id,
           CAST(ANY_VALUE(t.tot) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(SUM(-(n / (t.tot * 1.0)) * LN(n / (t.tot * 1.0))) * 1e4)
             / 1e4 AS char_entropy
    FROM f JOIN t USING (doc_id)
    GROUP BY f.doc_id ORDER BY f.doc_id
"""


@register("text_char_entropy", sql=_CHAR_ENTROPY_SQL)
def text_char_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the gibberish /
    binary-contamination detector that complements the corpus-level
    lang-mix entropy (agg_entropy): natural text sits in a narrow
    entropy band; base64 blobs score high, repeated-char spam low.

    The char explode is the honest cost shape of every char-level
    quality filter (rows = total characters) — fanned out before the
    explode (parallelize_scan), reduced immediately by the (doc, char)
    count, and the entropy fold runs over the tiny per-doc frequency
    relation. Counts are exact integers; the entropy rounds at 1e-4
    (the agg_entropy policy)."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    ch = (
        d.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
    )
    f = ch.groupBy("doc_id", "c").agg(F.count("*").alias("n"))
    t = f.groupBy("doc_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") / (F.col("tot") * F.lit(1.0))
    return (
        f.join(t, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("tot").cast("long").alias("n_chars"),
            F.count("*").cast("long").alias("n_distinct_chars"),
            dround(F.sum(-p * F.log(p)), 4).alias("char_entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Time-to-convert distribution (events)
# --------------------------------------------------------------------------

_TTC_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS first_view
          FROM e WHERE event_type = 'view' GROUP BY user_id),
    p AS (
      SELECT e.user_id, MIN(epoch_us(ts)) AS first_purchase
      FROM e JOIN v ON v.user_id = e.user_id
      WHERE event_type = 'purchase' AND epoch_us(ts) >= v.first_view
      GROUP BY e.user_id
    ),
    d AS (
      SELECT (p.first_purchase - v.first_view) / 3600e6 AS hours
      FROM v JOIN p ON p.user_id = v.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
           CAST(COUNT(*) AS BIGINT) AS n_converters,
           ROUND(COUNT(*) / ((SELECT COUNT(*) FROM v) * 1.0) * 1e4) / 1e4
             AS conversion_rate,
           ROUND(QUANTILE_CONT(hours, 0.5) * 1e4) / 1e4 AS median_hours,
           ROUND(QUANTILE_CONT(hours, 0.9) * 1e4) / 1e4 AS p90_hours
    FROM d
"""


@register("ts_time_to_convert", sql=_TTC_SQL)
def ts_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert funnel timing: per user, first view → first
    subsequent purchase; report conversion rate and the latency
    distribution (median/p90 hours) — the growth metric behind every
    "how long does the funnel take" dashboard.

    Two keyed aggregations co-partitioned on user_id (first-view, then
    first-qualifying-purchase via a filtered join on the SAME key), a
    users-sized delta relation, and one exact quantile pass over it.
    Time deltas are exact µs integers divided once by a constant —
    identical doubles on both engines."""
    ev = load_events(spark, sf)
    us = F.unix_micros(F.col("ts"))
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("first_view"))
    )
    v = scratch_cache(v)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(v, "user_id")
        .filter(F.col("t") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("first_purchase"))
    )
    d = v.join(p, "user_id").select(
        ((F.col("first_purchase") - F.col("first_view")) / F.lit(3600e6)).alias(
            "hours"
        )
    )
    n_viewers = v.count()  # users-sized audit scalar
    agg = d.agg(
        F.count("*").alias("n_converters"),
        F.percentile("hours", F.lit([0.5, 0.9])).alias("q"),
    ).select(
        F.lit(n_viewers).cast("long").alias("n_viewers"),
        F.col("n_converters").cast("long"),
        dround(
            F.col("n_converters") / (F.lit(n_viewers) * F.lit(1.0)), 4
        ).alias("conversion_rate"),
        dround(F.col("q").getItem(0), 4).alias("median_hours"),
        dround(F.col("q").getItem(1), 4).alias("p90_hours"),
    )
    return agg


# --------------------------------------------------------------------------
# Graph reciprocity (events affinity graph)
# --------------------------------------------------------------------------


def _reciprocity_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    r AS (
      SELECT d1.src, d1.dst FROM de d1
      JOIN de d2 ON d1.src = d2.dst AND d1.dst = d2.src
    )
    SELECT CAST((SELECT COUNT(*) FROM de) AS BIGINT) AS n_directed_edges,
           CAST(COUNT(*) AS BIGINT) AS n_reciprocated,
           ROUND(COUNT(*) / ((SELECT COUNT(*) FROM de) * 1.0) * 1e6) / 1e6
             AS reciprocity
    FROM r
"""
    )


@register("graph_reciprocity", sql=_reciprocity_sql)
def graph_reciprocity(spark: SparkSession, sf: str) -> DataFrame:
    """Directed reciprocity of the affinity graph — the fraction of
    edges whose reverse edge also exists (mutual-follow rate): near 1
    the graph behaves undirected, near 0 it is a flow. One self-join
    of the deduped directed edge list on the swapped key pair, exact
    integer counts; reads the shared materialized edges."""
    from engine.analytics import materialize_affinity_edges

    de = (
        materialize_affinity_edges(spark, sf)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    de = scratch_cache(de)
    rev = de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_edges = de.count()  # edge-list-sized audit scalar
    n_recip = de.join(rev, ["src", "dst"]).count()
    import math

    recip = (
        math.floor(n_recip / n_edges * 1e6 + 0.5) / 1e6 if n_edges else None
    )
    return tiny_df(
        spark,
        [(n_edges, n_recip, recip)],
        "n_directed_edges long, n_reciprocated long, reciprocity double",
    )


# --------------------------------------------------------------------------
# Seasonality strength (events)
# --------------------------------------------------------------------------

_SEASONALITY_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    cell AS (
      SELECT event_type,
             CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
             value
      FROM e
    ),
    m AS (
      SELECT event_type, dow, hr, AVG(value) AS mu, COUNT(*) AS n
      FROM cell GROUP BY event_type, dow, hr
    ),
    s AS (
      SELECT c.event_type,
             COUNT(*) * 1.0 AS n,
             SUM(c.value) AS sv, SUM(c.value * c.value) AS svv,
             SUM((c.value - m.mu) * (c.value - m.mu)) AS ssr
      FROM cell c JOIN m USING (event_type, dow, hr)
      GROUP BY c.event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND((1 - ssr / (svv - sv * sv / n)) * 1e4) / 1e4
             AS seasonality_strength
    FROM s ORDER BY event_type
"""


@register("agg_seasonality_strength", sql=_SEASONALITY_SQL)
def agg_seasonality_strength(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonality strength per metric: the fraction of value variance
    explained by the weekday×hour calendar profile (R² of the 168-cell
    mean model) — THE forecastability probe run before choosing
    between a seasonal model and a flat baseline (≈0 here, correctly:
    the synthetic values carry no calendar signal).

    Two passes sharing one shuffle key: cell means (168·types rows,
    broadcast back), then the residual/total sum bundle — a shared
    formula over raw sums (the agg_moments rule), rounded 1e-4 to
    absorb accumulation-order ulps."""
    ev = load_events(spark, sf)
    cell = ev.select(
        "event_type",
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
        "value",
    )
    cell = scratch_cache(cell)
    m = cell.groupBy("event_type", "dow", "hr").agg(
        F.avg("value").alias("mu"), F.count("*").alias("n_cell")
    )
    j = cell.join(F.broadcast(m), ["event_type", "dow", "hr"])
    v = F.col("value")
    s = j.groupBy("event_type").agg(
        (F.count("*") * F.lit(1.0)).alias("n"),
        F.sum(v).alias("sv"),
        F.sum(v * v).alias("svv"),
        F.sum((v - F.col("mu")) * (v - F.col("mu"))).alias("ssr"),
    )
    n, sv, svv, ssr = (F.col(c) for c in ("n", "sv", "svv", "ssr"))
    return s.select(
        "event_type",
        n.cast("long").alias("n_events"),
        dround(1 - ssr / (svv - sv * sv / n), 4).alias(
            "seasonality_strength"
        ),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Mann–Whitney U test (events)
# --------------------------------------------------------------------------

_MWU_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    s AS (
      SELECT value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM e WHERE event_type IN ('view', 'purchase')
    ),
    g AS (
      SELECT value, SUM(ia) AS ca, SUM(ib) AS cb, SUM(ia) + SUM(ib) AS t
      FROM s GROUP BY value
    ),
    r AS (
      SELECT ca, cb, t,
             COALESCE(SUM(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM g
    ),
    agg AS (
      SELECT SUM(ca) * 1.0 AS na, SUM(cb) * 1.0 AS nb,
             SUM(ca * (before + (t + 1) / 2.0)) AS ra,
             SUM(t * t * t - t) * 1.0 AS ties
      FROM r
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ra - na * (na + 1) / 2) * 1e4) / 1e4 AS u_stat,
           ROUND(((ra - na * (na + 1) / 2) - na * nb / 2)
                 / SQRT(na * nb / 12
                        * ((na + nb + 1)
                           - ties / ((na + nb) * (na + nb - 1))))
                 * 1e4) / 1e4 AS z_score
    FROM agg
"""


@register("agg_mann_whitney_u", sql=_MWU_SQL)
def agg_mann_whitney_u(spark: SparkSession, sf: str) -> DataFrame:
    """Mann–Whitney U with tie-corrected normal approximation between
    the 'view' and 'purchase' arms — the NON-PARAMETRIC member of the
    in-engine test battery (Welch assumes near-normal means, KS reads
    shapes; U ranks everything, robust to outliers and any monotone
    transform).

    Rank sums come from the distinct-value relation (the KS recipe):
    per-value arm counts, an exclusive cumulative count, and midrank =
    before + (t+1)/2 — counts are exact integers, so every rank sum is
    an exact multiple of ½ and the statistic is bit-identical on both
    engines up to the final standardized division (shared formula
    text, rounded 1e-4). The cumulative window shares agg_ks_statistic's
    export-only single-reducer caveat; the scale path is
    :func:`agg_mwu_banded`."""
    ev = load_events(spark, sf)
    s = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "value",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
    )
    g = s.groupBy("value").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    ).withColumn("t", F.col("ca") + F.col("cb"))
    wb = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    r = g.withColumn(
        "before", F.coalesce(F.sum("t").over(wb), F.lit(0).cast("long"))
    )
    agg = r.agg(
        (F.sum("ca") * F.lit(1.0)).alias("na"),
        (F.sum("cb") * F.lit(1.0)).alias("nb"),
        F.sum(
            F.col("ca") * (F.col("before") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("ra"),
        (F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")) * F.lit(1.0)).alias(
            "ties"
        ),
    )
    na, nb, ra, ties = (F.col(c) for c in ("na", "nb", "ra", "ties"))
    u = ra - na * (na + 1) / 2
    var = na * nb / 12 * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        dround(u, 4).alias("u_stat"),
        dround((u - na * nb / 2) / F.sqrt(var), 4).alias("z_score"),
    )
