"""Round-5 wave (SURVEY.md §2 Table I): sketch-backed frequency
estimation, corpus readability profiling, duplication observability,
and explicit-target mixture weighting — the data-quality / telemetry
layer a 100 TB pretraining pipeline runs alongside dedup.

Scale design notes (100 TB posture):
- count-min sketch: the sketch IS a (depth × width) aggregate — 256
  cells regardless of corpus size, built in one partial-aggregable
  groupBy (map-side combine collapses each partition to ≤ 256 rows
  before the shuffle). The exact-count twin exists only to value-check
  the estimate; the production path keeps just the sketch. The hash
  family is md5-derived (portable: any engine reproduces it), so the
  DuckDB oracle rebuilds the IDENTICAL sketch and the estimates match
  exactly — the whole sketch path is hash-checked, not bound-checked.
- readability: pure per-row narrow expressions (regexp_count /
  regexp_extract_all run JVM-side inside codegen) + one aggregation on
  a low-cardinality key. No UDF, no second pass.
- duplication profile: one hash-groupBy on a 16-byte fingerprint (the
  shuffle carries md5 prefixes, not documents), then a histogram over
  the cluster-size relation (already ≤ distinct-size rows). The share
  denominator is a windowed sum over that tiny histogram, not a second
  corpus scan.
- mixture weights: the corpus collapses to a languages-sized rate
  table in one aggregation; weights are a pure function of that table.
  The table is exactly what a sampler would broadcast back — the
  corpus itself never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround
from engine.registry import register
from engine.session import T, tiny_df

# --------------------------------------------------------------------------
# Count-min sketch frequency estimation (orders.o_custkey)
# --------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 64

#: the shared md5 hash family: row j maps key k to bucket
#: md5("j:k")[:15 hex] parsed as a positive 60-bit int, mod width.
#: Verified portable Spark<->DuckDB (the dedup_simhash contract).
_CM_SQL = f"""
    WITH js AS (SELECT UNNEST(GENERATE_SERIES(0, {_CM_DEPTH - 1})) AS j),
    pairs AS (
      SELECT js.j,
             (('0x' || substr(md5(js.j || ':' || CAST(o_custkey AS VARCHAR)),
                              1, 15))::BIGINT) % {_CM_WIDTH} AS bucket
      FROM orders, js
    ),
    sketch AS (SELECT j, bucket, COUNT(*) AS cell FROM pairs GROUP BY j, bucket),
    exact AS (SELECT o_custkey, COUNT(*) AS exact_cnt FROM orders GROUP BY o_custkey),
    top AS (
      SELECT o_custkey, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, o_custkey LIMIT 10
    ),
    probe AS (
      SELECT t.o_custkey, t.exact_cnt, s.cell
      FROM top t
      JOIN js ON TRUE
      JOIN sketch s
        ON s.j = js.j
       AND s.bucket = (('0x' || substr(md5(js.j || ':' ||
                          CAST(t.o_custkey AS VARCHAR)), 1, 15))::BIGINT)
                       % {_CM_WIDTH}
    )
    SELECT o_custkey, exact_cnt,
           MIN(cell) AS cm_est,
           MIN(cell) - exact_cnt AS overcount
    FROM probe GROUP BY o_custkey, exact_cnt ORDER BY o_custkey
"""


def _cm_bucket(j: int, key) -> F.Column:
    """Bucket of ``key`` under hash row ``j`` — hash60 family (portable
    md5 under oracle comparison, xxhash64 in fast mode)."""
    from engine.session import hash60

    tagged = F.concat(F.lit(f"{j}:"), key.cast("string"))
    return hash60(tagged) % _CM_WIDTH


@register("agg_countmin_heavy", sql=_CM_SQL)
def agg_countmin_heavy(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch frequency estimation over order custkeys, with
    the exact count as the verification twin: depth 4 × width 64, the
    estimate for a key is min over rows of its bucket's cell count.

    The sketch build is ONE partial-aggregable groupBy over (j, bucket)
    — map-side combine collapses every partition to ≤ depth×width rows
    before the shuffle, so the sketch costs O(cells) network no matter
    the corpus size; that mergeability is exactly why CM sketches work
    as distributed accumulators (the agg_hll_mergeable argument, for
    frequencies instead of cardinalities). Because the hash family is
    md5-derived (not Spark-private xxhash/murmur), the oracle rebuilds
    the identical sketch in SQL and the estimate column is value-checked
    — stronger than the usual eps·N bound assertion. Probing joins the
    10-key top list against the 256-cell sketch (broadcast, trivially).
    CM guarantees est >= exact; `overcount` makes the (deterministic)
    collision error visible in the output."""
    orders = T(spark, sf, "orders").select("o_custkey")
    js = [
        F.struct(F.lit(j).alias("j"), _cm_bucket(j, F.col("o_custkey")).alias("bucket"))
        for j in range(_CM_DEPTH)
    ]
    pairs = orders.select(F.explode(F.array(*js)).alias("jb")).select("jb.j", "jb.bucket")
    sketch = pairs.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell"))

    exact = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    w = Window.orderBy(F.col("exact_cnt").desc(), "o_custkey")
    top = (
        exact.withColumn("rn", F.row_number().over(w))  # 10-row head: tiny sort
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    probe = top.select(
        "o_custkey", "exact_cnt", F.explode(F.array(*js)).alias("jb")
    ).select("o_custkey", "exact_cnt", "jb.j", "jb.bucket")
    return (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("o_custkey", "exact_cnt")
        .agg(F.min("cell").alias("cm_est"))
        .withColumn("overcount", F.col("cm_est") - F.col("exact_cnt"))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Readability profile (documents)
# --------------------------------------------------------------------------

_READABILITY_SQL = """
    WITH d AS (
      SELECT source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS words,
             CAST(GREATEST(1, LEN(regexp_extract_all(text, '[.!?]+')))
                  AS DOUBLE) AS sents,
             CAST(LEN(regexp_extract_all(LOWER(text), '[aeiouy]+'))
                  AS DOUBLE) AS sylls
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(206.835 - 1.015 * (words / sents)
                     - 84.6 * (sylls / words)) * 1e4) / 1e4 AS avg_flesch,
           ROUND(AVG(0.39 * (words / sents) + 11.8 * (sylls / words)
                     - 15.59) * 1e4) / 1e4 AS avg_fk_grade
    FROM d GROUP BY source ORDER BY source
"""


@register("text_readability", sql=_READABILITY_SQL)
def text_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease / Flesch-Kincaid grade profile per source —
    the classic heuristic quality signal pretraining filters threshold
    on (complementing text_quality's length/punct ratios). Syllables
    are approximated as vowel groups, sentences as terminal-punctuation
    runs (floored at 1 for unpunctuated docs).

    All three counts are single-pass narrow expressions (split /
    regexp_extract_all stay inside whole-stage codegen — no UDF), then
    one aggregation on the low-cardinality source key. Per-doc
    arithmetic is double from the start; only the per-source AVG is
    rounded, once."""
    d = T(spark, sf, "documents").select(
        "source",
        F.size(F.split("text", " ")).cast("double").alias("words"),
        F.greatest(F.lit(1), F.regexp_count("text", F.lit(r"[.!?]+")))
        .cast("double")
        .alias("sents"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
        )
        .cast("double")
        .alias("sylls"),
    )
    wps = F.col("words") / F.col("sents")
    spw = F.col("sylls") / F.col("words")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dround(F.avg(F.lit(206.835) - 1.015 * wps - 84.6 * spw), 4).alias(
                "avg_flesch"
            ),
            dround(F.avg(0.39 * wps + 11.8 * spw - 15.59), 4).alias("avg_fk_grade"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Duplication profile (documents)
# --------------------------------------------------------------------------

_DUP_PROFILE_SQL = """
    WITH fp AS (
      SELECT md5(substr(text, 1, 40)) AS fingerprint FROM documents
    ),
    clusters AS (SELECT fingerprint, COUNT(*) AS sz FROM fp GROUP BY fingerprint)
    SELECT sz AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(sz) AS DOUBLE)
                 / SUM(SUM(sz)) OVER () * 1e6) / 1e6 AS corpus_share
    FROM clusters GROUP BY sz ORDER BY sz
"""


@register("agg_dup_profile", sql=_DUP_PROFILE_SQL)
def agg_dup_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Duplication-rate histogram: fingerprint every document by the
    md5 of its 40-char prefix (a deliberately coarse key so near-dup
    boilerplate collides), group into clusters, then profile cluster
    sizes — how many docs live in size-1 / size-2 / size-k clusters.
    The dataset-card number ("X% of the corpus is duplicated") drops
    out of the corpus_share column.

    The corpus shuffles ONCE, carrying 16-byte fingerprints (the
    dedup_exact shape — never document bodies); the histogram and its
    windowed share denominator run over the already-tiny cluster-size
    relation. On both engines the share is one window sum over the
    histogram, not a second corpus scan."""
    fp = T(spark, sf, "documents").select(
        F.md5(F.substring("text", 1, 40)).alias("fingerprint")
    )
    clusters = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("sz"))
    hist = clusters.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum("sz").alias("n_docs")
    )
    share = F.col("n_docs") / F.sum("n_docs").over(
        Window.partitionBy()  # histogram-sized relation: global window OK
    )
    return (
        hist.select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            dround(share, 6).alias("corpus_share"),
        ).orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# Explicit-target mixture weights (documents)
# --------------------------------------------------------------------------

#: English is capped at 30% of the training mix; the remaining 70% is
#: split evenly across the other languages present. The DoReMi-style
#: fixed-mixture contract: targets are a config literal, not data.
_EN_TARGET = 0.30

_MIX_WEIGHTS_SQL = f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    sized AS (
      SELECT lang, n_docs,
             SUM(n_docs) OVER () AS total,
             COUNT(*) OVER () AS n_langs
      FROM counts
    ),
    tgt AS (
      SELECT lang, n_docs, total,
             CASE WHEN n_langs = 1 THEN 1.0
                  WHEN lang = 'en' THEN {_EN_TARGET}
                  ELSE (1.0 - {_EN_TARGET}) / (n_langs - 1)
             END AS target_share
      FROM sized
    )
    SELECT lang, n_docs,
           ROUND(target_share * 1e6) / 1e6 AS target_share,
           ROUND(LEAST(3.0, target_share * total / n_docs) * 1e6) / 1e6
             AS weight,
           CAST(ROUND(n_docs * LEAST(3.0, target_share * total / n_docs))
                AS BIGINT) AS expected_docs
    FROM tgt ORDER BY lang
"""


@register("pipeline_domain_mix_weights", sql=_MIX_WEIGHTS_SQL)
def pipeline_domain_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language sampling weights for an explicit target mixture
    (English capped at 30%, the rest split evenly): weight_l =
    target_l · N / n_l, capped at 3.0 epochs so rare languages are
    upsampled but never repeated more than 3×. `expected_docs` is the
    resulting per-language volume — what the sampled corpus will
    actually contain, cap included.

    This is the rate-table half of pipeline_temperature_sample with the
    mixture specified as config instead of derived from a temperature:
    the corpus collapses to a languages-sized relation in ONE
    aggregation; the window total/n_langs run over that tiny relation;
    the weights are what a sampler broadcasts back. The corpus itself
    never reshuffles here."""
    counts = (
        T(spark, sf, "documents").groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy()  # languages-sized relation: global window OK
    sized = counts.withColumn("total", F.sum("n_docs").over(w)).withColumn(
        "n_langs", F.count(F.lit(1)).over(w)
    )
    target = (
        F.when(F.col("n_langs") == 1, F.lit(1.0))
        .when(F.col("lang") == "en", F.lit(_EN_TARGET))
        .otherwise((1.0 - _EN_TARGET) / (F.col("n_langs") - 1))
    )
    weight = F.least(F.lit(3.0), target * F.col("total") / F.col("n_docs"))
    return sized.select(
        "lang",
        "n_docs",
        dround(target, 6).alias("target_share"),
        dround(weight, 6).alias("weight"),
        F.round(F.col("n_docs") * weight, 0).cast("long").alias("expected_docs"),
    ).orderBy("lang")

# --------------------------------------------------------------------------
# Moving median (events)
# --------------------------------------------------------------------------

_MOVING_MEDIAN_SQL = """
    SELECT event_id, user_id,
           ROUND(MEDIAN(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) * 1e6) / 1e6 AS mov_median
    FROM events ORDER BY user_id, event_id
"""


@register("win_moving_median", sql=_MOVING_MEDIAN_SQL)
def win_moving_median(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 7-row moving median of event value per user — the
    robust-smoothing twin of ts_ewma (a median shrugs off the spike
    that drags a mean, so it's the standard pre-filter before anomaly
    thresholds). Exact interpolating percentile(0.5) over a bounded
    ROWS frame: per-task state is the 7-element frame, independent of
    history length, and the only shuffle is the user_id partitioning.
    Spark's `median` aggregate refuses window frames; `percentile(v,
    0.5)` is the same exact-interpolation computation and is
    frame-legal — matching DuckDB's MEDIAN (quantile_cont 0.5) on
    doubles."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        T(spark, sf, "events")
        .select(
            "event_id",
            "user_id",
            dround(F.expr("percentile(value, 0.5)").over(w), 6).alias("mov_median"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# Rolling regression slope (events)
# --------------------------------------------------------------------------

_ROLLING_SLOPE_SQL = """
    WITH seq AS (
      SELECT user_id, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS DOUBLE) AS x
      FROM events
    ),
    m AS (
      SELECT user_id, event_id,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx,
             SUM(value) OVER w AS sy,
             SUM(x * value) OVER w AS sxy,
             SUM(x * x) OVER w AS sxx
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(n * sxx - sx * sx, 0) * 1e6) / 1e6 AS slope
    FROM m ORDER BY user_id, event_id
"""


@register("win_rolling_slope", sql=_ROLLING_SLOPE_SQL)
def win_rolling_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 10-point OLS slope of event value per user — the local
    trend detector (is this metric rising?) behind alerting and
    step-change triage. x is the per-user row index, so the slope is
    per-step drift, scale-free in time units.

    The slope is assembled from five windowed moments (n, Σx, Σy, Σxy,
    Σx²) over ONE bounded ROWS frame — a single window pass, partial
    state of five doubles per task; no self-join, no per-row rescans of
    the frame. Same formula, same frame, same NULLIF-guard on both
    engines (n=1 makes the denominator exactly 0 → NULL)."""
    ev = T(spark, sf, "events")
    seq = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("double")
        .alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-9, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("x").over(w)
    sy = F.sum("value").over(w)
    sxy = F.sum(F.col("x") * F.col("value")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / F.when(denom != 0, denom)
    return seq.select(
        "user_id", "event_id", dround(slope, 6).alias("slope")
    ).orderBy("user_id", "event_id")


# --------------------------------------------------------------------------
# k-core peel (events affinity graph)
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle_sql() -> str:
    """Chained-CTE mirror of the fixed-round peel: und{r} is the
    surviving undirected simple edge set after r rounds; the output
    unions the per-round summaries. Integer-exact throughout."""
    from engine.analytics import AFFINITY_EDGES_CTE
    from engine.session import EVENTS_US_SQL

    parts = [
        f"WITH e AS ({EVENTS_US_SQL}),",
        AFFINITY_EDGES_CTE + ",",
        """
    und0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges
    )""",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""",
    deg{p} AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM und{p} UNION ALL SELECT b FROM und{p}
      ) GROUP BY node
    ),
    alive{r} AS (SELECT node FROM deg{p} WHERE deg >= {_KCORE_K}),
    und{r} AS MATERIALIZED (
      SELECT u.a, u.b FROM und{p} u
      JOIN alive{r} x ON u.a = x.node
      JOIN alive{r} y ON u.b = y.node
    )"""
        )
    summaries = "\n    UNION ALL ".join(
        f"""SELECT {r} AS round,
           (SELECT COUNT(*) FROM (
              SELECT a AS node FROM und{r} UNION SELECT b FROM und{r}
            )) AS nodes_alive,
           (SELECT COUNT(*) FROM und{r}) AS edges_alive"""
        for r in range(_KCORE_ROUNDS + 1)
    )
    parts.append(f"\n    {summaries}\n    ORDER BY round")
    return "".join(parts)


@register("graph_kcore_peel", sql=_kcore_oracle_sql)
def graph_kcore_peel(
    spark: SparkSession, sf: str, distributed: bool = False
) -> DataFrame:
    """Fixed-round k-core peeling (k=3, 8 rounds) over the shared
    affinity graph, reporting the per-round (nodes, edges) trajectory —
    the standard dense-subgraph / spam-cluster primitive, and the
    convergence telemetry is the interesting output (where the curve
    flattens, the 3-core has stabilized).

    The multigraph collapses to a DISTINCT undirected simple edge set
    once; the per-round trajectory is 9 pairs of LONGS, so it is
    assembled on the driver from counted rounds rather than as a 9-way
    union plan (whose un-truncated iterative lineage Catalyst would
    re-analyze combinatorially — the graph_pagerank lesson).

    ADAPTIVE physical strategy (the BFS / pagerank / CC rule): the edge
    set — already orders of magnitude smaller than the raw events — is
    counted first; when driver-sized the peel runs as an exact integer
    loop on the driver, else each round is one degree aggregation
    (union of the two endpoint projections, hashed on node) + one
    semi-join of the edge set against surviving nodes, on a relation
    that only ever SHRINKS, with localCheckpoint(eager) cutting the
    per-round lineage. Both paths compute the identical integer
    trajectory; both run all 8 rounds whether or not the peel has
    converged, mirroring the oracle's fixed CTE chain.
    ``distributed=True`` skips the count and forces the distributed
    peel (graph_kcore_distributed)."""
    from engine.analytics import driver_sized, materialize_affinity_edges
    from engine.session import scratch_cache

    edges = materialize_affinity_edges(spark, sf)
    und = scratch_cache(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct()
    )
    if not distributed and driver_sized(und):
        traj = _kcore_driver(und)
    else:
        traj = _kcore_distributed(und)
    return tiny_df(
        spark, traj, "round int, nodes_alive long, edges_alive long"
    ).orderBy("round")


@register("graph_kcore_distributed", sql=_kcore_oracle_sql)
def graph_kcore_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """graph_kcore_peel with the DISTRIBUTED peel FORCED — the 100 TB
    code path (per round: one degree aggregation over the two endpoint
    projections + one double semi-join against surviving nodes, with
    localCheckpoint cutting per-round lineage) registered as its own
    key so the external sweep certifies the scale path, not just the
    collected-edge twin. Identical oracle: the peel trajectory is a
    pure integer function of the simple edge set."""
    return graph_kcore_peel(spark, sf, distributed=True)


def _kcore_driver(und: DataFrame) -> list[tuple[int, int, int]]:
    """Exact integer peel over the collected (counted, bounded) edge set."""
    pairs = {(r["a"], r["b"]) for r in und.collect()}
    traj = []
    for r in range(_KCORE_ROUNDS + 1):
        nodes = {n for p in pairs for n in p}
        traj.append((r, len(nodes), len(pairs)))
        if r == _KCORE_ROUNDS:
            break
        deg: dict[int, int] = {}
        for a, b in pairs:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {n for n, d in deg.items() if d >= _KCORE_K}
        pairs = {(a, b) for a, b in pairs if a in alive and b in alive}
    return traj


def _kcore_distributed(und: DataFrame) -> list[tuple[int, int, int]]:
    """Cluster-scale peel: per round one agg + one double semi-join;
    the driver carries only the 9-tuple trajectory.

    Per-round overhead kept to ONE action: nodes and edges count in a
    single explode+aggregate pass (count(*)/2 = |E| exactly — every
    simple edge contributes its two endpoints), and the lineage-cutting
    checkpoint is LAZY so that same action materializes it. Loop
    shuffles are right-sized to the (already-shrunken) edge relation,
    not the fact — the pagerank rule; builder-measured 4.2 → ~2 s at
    sf0.1. All counts exact integers, partition-count-invariant.

    The right-sizing holds the session's shuffle width for the loop
    (:func:`engine.analytics.loop_shuffles`)."""
    from engine.analytics import loop_shuffles

    spark = und.sparkSession

    def counts(u: DataFrame) -> tuple[int, int]:
        row = (
            u.select(F.explode(F.array("a", "b")).alias("node"))
            .agg(
                F.count_distinct("node").alias("n"),
                (F.count(F.lit(1)) / 2).cast("long").alias("m"),
            )
            .first()
        )
        return (row["n"] or 0, row["m"] or 0)

    traj = []
    n0, m0 = counts(und)
    with loop_shuffles(spark, m0, 20_000):
        for r in range(_KCORE_ROUNDS + 1):
            n, m = (n0, m0) if r == 0 else counts(und)
            traj.append((r, n, m))
            if r == _KCORE_ROUNDS:
                break
            deg = (
                und.select(F.col("a").alias("node"))
                .unionAll(und.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            alive = deg.filter(F.col("deg") >= _KCORE_K).select("node")
            und = (
                und.join(alive.withColumnRenamed("node", "a"), "a")
                .join(alive.withColumnRenamed("node", "b"), "b")
                .select("a", "b")
                .localCheckpoint(eager=False)
            )
    return traj

# --------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch with set-operation estimates (orders)
# --------------------------------------------------------------------------

_KMV_K = 64
#: 2^60 as an exact double (the md5-60bit hash space size); embedded
#: via repr so Spark and the SQL oracle share the identical constant.
_KMV_SPACE = float(1 << 60)

_KMV_SQL = f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    ),
    b_keys AS (
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    ),
    a_h AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM a_keys),
    b_h AS (SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM b_keys),
    a_sk AS MATERIALIZED (SELECT h FROM a_h ORDER BY h LIMIT {_KMV_K}),
    b_sk AS MATERIALIZED (SELECT h FROM b_h ORDER BY h LIMIT {_KMV_K}),
    u_sk AS MATERIALIZED (
      SELECT h FROM (SELECT h FROM a_sk UNION SELECT h FROM b_sk)
      ORDER BY h LIMIT {_KMV_K}
    ),
    est AS (
      SELECT
        (SELECT COUNT(*) FROM a_keys) AS exact_a,
        (SELECT COUNT(*) FROM b_keys) AS exact_b,
        (SELECT COUNT(*) FROM (SELECT o_custkey FROM a_keys
                               UNION SELECT o_custkey FROM b_keys)) AS exact_union,
        (SELECT COUNT(*) FROM (SELECT o_custkey FROM a_keys
                               INTERSECT SELECT o_custkey FROM b_keys)) AS exact_intersect,
        (SELECT COUNT(*) FROM a_sk) AS ka,
        (SELECT MAX(h) FROM a_sk) AS ha,
        (SELECT COUNT(*) FROM b_sk) AS kb,
        (SELECT MAX(h) FROM b_sk) AS hb,
        (SELECT COUNT(*) FROM u_sk) AS ku,
        (SELECT MAX(h) FROM u_sk) AS hu,
        (SELECT COUNT(*) FROM u_sk
         WHERE h IN (SELECT h FROM a_sk) AND h IN (SELECT h FROM b_sk)) AS n_both
    )
    SELECT exact_a, exact_b, exact_union, exact_intersect,
      ROUND(CASE WHEN ka < {_KMV_K} THEN CAST(ka AS DOUBLE)
                 ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / ha END * 1e4) / 1e4
        AS est_a,
      ROUND(CASE WHEN kb < {_KMV_K} THEN CAST(kb AS DOUBLE)
                 ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / hb END * 1e4) / 1e4
        AS est_b,
      ROUND(CASE WHEN ku < {_KMV_K} THEN CAST(ku AS DOUBLE)
                 ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / hu END * 1e4) / 1e4
        AS est_union,
      ROUND(CAST(n_both AS DOUBLE) / ku
            * (CASE WHEN ku < {_KMV_K} THEN CAST(ku AS DOUBLE)
                    ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / hu END)
            * 1e4) / 1e4 AS est_intersect
    FROM est
"""


@register("agg_kmv_set_sketch", sql=_KMV_SQL)
def agg_kmv_set_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (bottom-k / k-minimum-values) distinct sketches for the 1995
    and 1996 buyer sets, with union and intersection estimated FROM THE
    SKETCHES — next to the exact values as verification twins. The
    union sketch is built by MERGING the two per-set sketches (bottom-k
    of their union), which is the whole point of KMV at 100 TB: each
    source/shard keeps k longs, merges are associative, and
    |A∩B| ≈ Jaccard(bottom-k) × |A∪B| needs no re-scan of either set.

    Each sketch is an ORDER BY h LIMIT k over distinct md5-derived
    hashes — Spark plans that as TakeOrderedAndProject (per-partition
    bottom-k + driver merge of k×partitions longs, no global sort).
    The hash family is portable, so the oracle rebuilds the identical
    sketches and every ESTIMATE column is value-checked, not just
    bounded (the agg_countmin_heavy contract, for cardinalities).
    Estimator: (k-1)·H/h_(k) with H = 2^60, degrading to the exact
    count when the set has fewer than k members (sketch = whole set)."""
    orders = T(spark, sf, "orders")

    def keys(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    def hashes(df: DataFrame) -> DataFrame:
        from engine.session import hash60

        return df.select(hash60("o_custkey").alias("h"))

    a_keys, b_keys = keys(1995), keys(1996)
    a_sk = hashes(a_keys).orderBy("h").limit(_KMV_K)
    b_sk = hashes(b_keys).orderBy("h").limit(_KMV_K)
    u_sk = a_sk.union(b_sk).distinct().orderBy("h").limit(_KMV_K)

    def est(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).alias(f"k_{name}"), F.max("h").alias(f"h_{name}")
        )

    n_both = (
        u_sk.join(a_sk.withColumnRenamed("h", "h"), "h", "semi")
        .join(b_sk, "h", "semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    exact = (
        a_keys.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(b_keys.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            a_keys.union(b_keys).distinct().agg(F.count(F.lit(1)).alias("exact_union"))
        )
        .crossJoin(
            a_keys.intersect(b_keys).agg(F.count(F.lit(1)).alias("exact_intersect"))
        )
    )
    row = (
        exact.crossJoin(est(a_sk, "a"))
        .crossJoin(est(b_sk, "b"))
        .crossJoin(est(u_sk, "u"))
        .crossJoin(n_both)
    )

    def estimator(k_col: str, h_col: str):
        return F.when(
            F.col(k_col) < _KMV_K, F.col(k_col).cast("double")
        ).otherwise(
            F.lit(float(_KMV_K - 1)) * F.lit(_KMV_SPACE) / F.col(h_col)
        )

    eu = estimator("k_u", "h_u")
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
        dround(estimator("k_a", "h_a"), 4).alias("est_a"),
        dround(estimator("k_b", "h_b"), 4).alias("est_b"),
        dround(eu, 4).alias("est_union"),
        dround(F.col("n_both").cast("double") / F.col("k_u") * eu, 4).alias(
            "est_intersect"
        ),
    )


# --------------------------------------------------------------------------
# Bloom filter build + measured-FPR report (orders members, customer probes)
# --------------------------------------------------------------------------

_BLOOM_M = 8192
_BLOOM_KH = 3

_BLOOM_SQL = f"""
    WITH js AS (SELECT UNNEST(GENERATE_SERIES(0, {_BLOOM_KH - 1})) AS j),
    members AS MATERIALIZED (
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    ),
    bits AS MATERIALIZED (
      SELECT DISTINCT
        (('0x' || substr(md5(js.j || ':' || CAST(o_custkey AS VARCHAR)),
                         1, 15))::BIGINT) % {_BLOOM_M} AS pos
      FROM members, js
    ),
    probes AS (
      SELECT c_custkey, COUNT(b.pos) AS n_hit
      FROM customer
      CROSS JOIN js
      LEFT JOIN bits b
        ON b.pos = (('0x' || substr(md5(js.j || ':' ||
                       CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT)
                   % {_BLOOM_M}
      GROUP BY c_custkey
    ),
    verdicts AS (
      SELECT p.c_custkey,
             p.n_hit = {_BLOOM_KH} AS positive,
             m.o_custkey IS NOT NULL AS is_member
      FROM probes p LEFT JOIN members m ON m.o_custkey = p.c_custkey
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
           CAST({_BLOOM_KH} AS BIGINT) AS k_hashes,
           (SELECT COUNT(*) FROM members) AS n_members,
           (SELECT COUNT(*) FROM bits) AS n_bits_set,
           COUNT(*) AS n_tested,
           CAST(SUM(CASE WHEN positive THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(SUM(CASE WHEN positive AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           ROUND(CAST(SUM(CASE WHEN positive AND NOT is_member THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 0)
                 * 1e6) / 1e6 AS fpr_measured
    FROM verdicts
"""


def _bloom_pos(j: int, key) -> F.Column:
    from engine.session import hash60

    tagged = F.concat(F.lit(f"{j}:"), key.cast("string"))
    return hash60(tagged) % _BLOOM_M


@register("agg_bloom_filter_report", sql=_BLOOM_SQL)
def agg_bloom_filter_report(spark: SparkSession, sf: str) -> DataFrame:
    """Build a Bloom filter (m=8192 bits, k=3 md5-derived hashes) over
    the 1995 buyer set, probe it with EVERY customer, and report the
    measured false-positive rate — the observability half of
    join_runtime_bloom_filter, where the filter Spark injects is
    engine-internal: here the filter is an explicit relation whose
    quality is itself the query result.

    The filter is the distinct (position) relation — ≤ m rows no matter
    how many members (the same constant-size-summary argument as the
    count-min sketch). Probing joins candidates' positions against the
    broadcast-sized bit relation; a candidate is positive iff all k of
    its positions hit. The hash family is portable, so the oracle
    rebuilds the identical filter: n_bits_set, every verdict, and the
    measured FPR are value-checked. Bloom property n_false_negatives=0
    is structural (asserted in tests, implied here by n_positive ≥
    members-with-probe)."""
    orders = T(spark, sf, "orders")
    members = (
        orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    )
    bits = (
        members.select(
            F.explode(
                F.array(*[_bloom_pos(j, F.col("o_custkey")) for j in range(_BLOOM_KH)])
            ).alias("pos")
        )
        .distinct()
    )
    cust = T(spark, sf, "customer").select("c_custkey")
    probe_pos = cust.select(
        "c_custkey",
        F.posexplode(
            F.array(*[_bloom_pos(j, F.col("c_custkey")) for j in range(_BLOOM_KH)])
        ).alias("j", "pos"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("c_custkey")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
    )
    verdicts = hits.join(
        F.broadcast(members.withColumn("is_member", F.lit(True))),
        hits.c_custkey == members.o_custkey,
        "left",
    ).select(
        "c_custkey",
        (F.col("n_hit") == _BLOOM_KH).alias("positive"),
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    fp = F.sum(F.when(F.col("positive") & ~F.col("is_member"), 1).otherwise(0))
    non_members = F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
    agg = verdicts.agg(
        F.count(F.lit(1)).alias("n_tested"),
        F.sum(F.when(F.col("positive"), 1).otherwise(0)).cast("long").alias(
            "n_positive"
        ),
        fp.cast("long").alias("n_false_positive"),
        dround(
            fp.cast("double") / F.when(non_members != 0, non_members), 6
        ).alias("fpr_measured"),
    )
    return (
        agg.crossJoin(members.agg(F.count(F.lit(1)).alias("n_members")))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .select(
            F.lit(_BLOOM_M).cast("long").alias("m_bits"),
            F.lit(_BLOOM_KH).cast("long").alias("k_hashes"),
            "n_members",
            "n_bits_set",
            "n_tested",
            "n_positive",
            "n_false_positive",
            "fpr_measured",
        )
    )

# --------------------------------------------------------------------------
# MMR diversified rerank (embeddings)
# --------------------------------------------------------------------------

_MMR_CANDS = 8
_MMR_PICKS = 4
_MMR_LAMBDA = 0.7


def _mmr_oracle_sql() -> str:
    """Greedy MMR as a chained-argmax CTE pipeline: sel{s} picks the
    argmax of lambda*rel - (1-lambda)*max-sim-to-picked at step s.
    cand/pairs are MATERIALIZED (each is referenced per step — without
    it DuckDB re-inlines the cosine cross product per step, the
    graph_kcore_peel lesson)."""
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    parts = [
        f"""
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.e,
             ROUND(LIST_COSINE_SIMILARITY(q.e, c.e) * 1e6) / 1e6 AS rel
      FROM q, c WHERE q.vec_id <> c.vec_id
    ),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, e, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= {_MMR_CANDS}
    ),
    pairs AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
             ROUND(LIST_COSINE_SIMILARITY(a.e, b.e) * 1e6) / 1e6 AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, 1 AS rnk, {lam} * rel AS mmr_score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, neighbor_id) AS rn
            FROM cand) WHERE rn = 1
    ),
    picked1 AS (SELECT query_id, neighbor_id FROM sel1)"""
    ]
    for s in range(2, _MMR_PICKS + 1):
        p = s - 1
        parts.append(
            f""",
    sc{s} AS (
      SELECT c.query_id, c.neighbor_id,
             {lam} * c.rel - {mu} * MAX(p.sim) AS score
      FROM cand c
      JOIN pairs p
        ON p.query_id = c.query_id AND p.na = c.neighbor_id
      JOIN picked{p} k
        ON k.query_id = p.query_id AND k.neighbor_id = p.nb
      LEFT JOIN picked{p} x
        ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
      WHERE x.neighbor_id IS NULL
      GROUP BY c.query_id, c.neighbor_id, c.rel
    ),
    sel{s} AS (
      SELECT query_id, neighbor_id, {s} AS rnk, score AS mmr_score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, neighbor_id) AS rn
            FROM sc{s}) WHERE rn = 1
    ),
    picked{s} AS (SELECT * FROM picked{p}
                  UNION ALL SELECT query_id, neighbor_id FROM sel{s})"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM sel{s}" for s in range(1, _MMR_PICKS + 1)
    )
    parts.append(
        f"""
    SELECT query_id, neighbor_id, rnk,
           ROUND(mmr_score * 1e6) / 1e6 AS mmr_score
    FROM ({union}) ORDER BY query_id, rnk"""
    )
    return "".join(parts)


@register("sim_mmr_rerank", sql=_mmr_oracle_sql)
def sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-marginal-relevance rerank: take each query's top-8 exact
    cosine candidates, then greedily pick 4 balancing relevance against
    redundancy (score = 0.7·rel − 0.3·max-sim-to-already-picked) — the
    standard diversification pass between retrieval and a RAG prompt,
    so near-duplicate passages don't crowd out coverage.

    Stage split follows the retrieval shape: the corpus-wide top-8 is
    the DISTRIBUTED part (the sim_cosine_topk_exact plan — broadcast
    5-row query side, one corpus pass, WindowGroupLimit); the greedy
    selection then operates on ≤ 5×8 candidates + their ≤ 5×56 pairwise
    sims — driver-sized BY CONSTRUCTION (the IVF top_cells contract),
    and inherently sequential, so it runs as an exact Python loop
    rather than 4 chained shuffle rounds. All sims are rounded to 6 dp
    BEFORE ranking on both engines (the half-away-from-zero ADVICE-r4
    contract), so selection ties break identically; scores are then
    pure arithmetic on identical doubles."""
    import math

    from engine.similarity import _as_double, _cosine

    emb = T(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "ce",
            dround(_cosine(F.col("qe"), F.col("ce")), 6).alias("rel"),
        )
    )
    from engine.session import scratch_cache

    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "neighbor_id")
    # cache: the ≤ 5×8-row candidate relation feeds the rel collect AND
    # both sides of the pair self-join — without it each consumer
    # re-runs the corpus-wide cosine pass (profiled: 3.0 s → ~1 s)
    cand = scratch_cache(
        scored.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= _MMR_CANDS
        )
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("na"),
            F.col("b.neighbor_id").alias("nb"),
            dround(_cosine(F.col("a.ce"), F.col("b.ce")), 6).alias("sim"),
        )
    )
    rels: dict[tuple[int, int], float] = {
        (r["query_id"], r["neighbor_id"]): r["rel"]
        for r in cand.select("query_id", "neighbor_id", "rel").collect()
    }
    sims: dict[tuple[int, int, int], float] = {
        (r["query_id"], r["na"], r["nb"]): r["sim"] for r in pairs.collect()
    }

    def round6(x: float) -> float:
        # half-away-from-zero on the scaled double == SQL ROUND(x*1e6)/1e6
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    out = []
    for query in sorted({k[0] for k in rels}):
        pool = sorted(n for (qq, n) in rels if qq == query)
        picked: list[int] = []
        for step in range(1, _MMR_PICKS + 1):
            best = None
            for n in pool:
                if n in picked:
                    continue
                pen = max((sims[(query, n, p)] for p in picked), default=None)
                score = (
                    _MMR_LAMBDA * rels[(query, n)]
                    if pen is None
                    else _MMR_LAMBDA * rels[(query, n)] - (1.0 - _MMR_LAMBDA) * pen
                )
                if best is None or score > best[0] or (
                    score == best[0] and n < best[1]
                ):
                    best = (score, n)
            picked.append(best[1])
            out.append((query, best[1], step, round6(best[0])))
    return tiny_df(
        spark, out, "query_id long, neighbor_id long, rnk int, mmr_score double"
    ).orderBy("query_id", "rnk")

# --------------------------------------------------------------------------
# 2-D skyline / Pareto front (part: minimize price, maximize size)
# --------------------------------------------------------------------------

_SKYLINE_SQL = """
    WITH pm AS (
      SELECT p_retailprice AS price, MAX(p_size) AS msize
      FROM part GROUP BY p_retailprice
    ),
    run AS (
      SELECT price, msize,
             MAX(msize) OVER (ORDER BY price
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_before
      FROM pm
    )
    SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS size
    FROM part p
    JOIN run r ON r.price = p.p_retailprice
    WHERE p.p_size = r.msize
      AND (r.best_before IS NULL OR p.p_size > r.best_before)
    ORDER BY price, p.p_partkey
"""


@register("win_skyline_pareto_2d", sql=_SKYLINE_SQL)
def win_skyline_pareto_2d(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto front) of parts — minimize retail price,
    maximize size: a part survives iff nothing is simultaneously
    cheaper-or-equal AND bigger-or-equal with one strict. The
    multi-objective shortlist operator behind "best tradeoff" queries.

    After collapsing to per-price max size (one partial-aggregable
    groupBy), the survive rule is a single running-max window over the
    DISTINCT-PRICE relation: survive iff size > max(size) over all
    strictly cheaper prices. Spark runs that window in two phases
    exploiting skyline decomposability — skyline(A∪B) =
    skyline(skyline(A)∪skyline(B)) — a LOCAL pass partitioned by
    coarse price range (parallel, eliminates almost everything), then
    the global pass over local survivors only, so no single reducer
    ever sees the full price dictionary (the win_pctrank_bucketed
    construction). The oracle computes the equivalent one-phase rule —
    the result is implementation-independent."""
    pm = (
        T(spark, sf, "part")
        .groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").alias("msize"))
    )
    # local phase: coarse fixed-width price buckets (data-independent)
    bucket = F.floor(F.col("price") / 100).cast("long")
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        pm.withColumn("bucket", bucket)
        .withColumn("lbest", F.max("msize").over(w_local))
        .filter(F.col("lbest").isNull() | (F.col("msize") > F.col("lbest")))
        .select("price", "msize")
    )
    # global phase over local survivors (bounded: each bucket's local
    # skyline is monotone, so survivors ≈ skyline-sized, not data-sized)
    w_glob = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    run = local.withColumn("best_before", F.max("msize").over(w_glob))
    part = T(spark, sf, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    )
    return (
        part.join(F.broadcast(run), "price")
        .filter(
            (F.col("size") == F.col("msize"))
            & (F.col("best_before").isNull() | (F.col("size") > F.col("best_before")))
        )
        .select("p_partkey", "price", "size")
        .orderBy("price", "p_partkey")
    )


# --------------------------------------------------------------------------
# RAKE keyword extraction (documents)
# --------------------------------------------------------------------------

#: stopword delimiters for phrase extraction (present in the corpus)
_RAKE_STOPS = ("a", "the")

_RAKE_SQL = f"""
    WITH toks AS (
      SELECT d.doc_id, d.ts[u.i] AS tok, u.i AS pos
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents) d,
           UNNEST(GENERATE_SERIES(1, LEN(d.ts))) AS u(i)
    ),
    marked AS (
      SELECT doc_id, tok, pos,
             SUM(CASE WHEN tok IN {_RAKE_STOPS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS grp,
             tok IN {_RAKE_STOPS} AS is_stop
      FROM toks
    ),
    phrases AS MATERIALIZED (
      SELECT doc_id, grp,
             STRING_AGG(tok, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM marked WHERE NOT is_stop
      GROUP BY doc_id, grp
    ),
    words AS (
      SELECT p.doc_id, p.grp, p.plen, w.tok
      FROM phrases p, UNNEST(STRING_SPLIT(p.phrase, ' ')) AS w(tok)
    ),
    wstats AS (
      SELECT tok,
             CAST(ROUND(SUM(plen) * 1e6 / COUNT(*)) AS BIGINT) AS score_u
      FROM words GROUP BY tok
    ),
    pscore AS (
      SELECT w.doc_id, w.grp,
             ANY_VALUE(p.phrase) AS phrase,
             SUM(s.score_u) AS score_u
      FROM words w
      JOIN wstats s ON s.tok = w.tok
      JOIN phrases p ON p.doc_id = w.doc_id AND p.grp = w.grp
      GROUP BY w.doc_id, w.grp
    ),
    agg AS (
      SELECT phrase, COUNT(*) AS n_occurrences,
             MAX(score_u) AS score_u
      FROM pscore GROUP BY phrase
    )
    SELECT phrase, n_occurrences,
           ROUND(score_u / 1e6 * 1e6) / 1e6 AS rake_score
    FROM agg
    ORDER BY score_u DESC, phrase LIMIT 20
"""


@register("text_keyword_rake", sql=_RAKE_SQL)
def text_keyword_rake(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction: split docs into candidate phrases at
    stopword delimiters, score each word degree/frequency (degree =
    Σ phrase-length over its occurrences), score a phrase as the sum of
    its word scores, return the corpus top-20 — the classic
    no-training keyphrase baseline for corpus topic drift monitoring.

    Per-word scores are fixed to INTEGER MICRO-UNITS
    (round(degree·1e6/freq)) before the phrase sum, so the fold is
    exact integer arithmetic — immune to FP summation order on either
    engine (the agg_hist_log_bins trick, applied to a score fold). The
    phrase build is one per-doc running-count window (partitioned by
    doc — parallel); word stats are two partial-aggregable rollups;
    the final top-20 is TakeOrderedAndProject, never a global sort."""
    stops = list(_RAKE_STOPS)
    toks = (
        T(spark, sf, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    marked = toks.withColumn(
        "grp",
        F.sum(F.when(F.col("tok").isin(stops), 1).otherwise(0)).over(wd),
    ).withColumn("is_stop", F.col("tok").isin(stops))
    from engine.session import scratch_cache

    # collect_list is order-nondeterministic after shuffles: build the
    # phrase via sort_array over (pos, tok) structs instead
    phrases = scratch_cache(
        marked.filter(~F.col("is_stop"))
        .groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
    )
    words = phrases.select(
        "doc_id", "grp", "plen", F.explode(F.split("phrase", " ")).alias("tok")
    )
    wstats = words.groupBy("tok").agg(
        F.round(F.sum("plen") * 1e6 / F.count(F.lit(1)), 0)
        .cast("long")
        .alias("score_u")
    )
    pscore = (
        words.join(wstats, "tok")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score_u").alias("score_u"))
        .join(phrases.select("doc_id", "grp", "phrase"), ["doc_id", "grp"])
    )
    agg = pscore.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"), F.max("score_u").alias("score_u")
    )
    return (
        agg.orderBy(F.col("score_u").desc(), "phrase")
        .limit(20)
        .select(
            "phrase",
            "n_occurrences",
            dround(F.col("score_u") / 1e6, 6).alias("rake_score"),
        )
    )

# --------------------------------------------------------------------------
# SimHash hamming-radius search (documents)
# --------------------------------------------------------------------------

_RADIUS = 3
_BANDS = 4
_BAND_BITS = 15  # 4 bands x 15 bits = the 60-bit portable fingerprint


def _simhash_radius_sql() -> str:
    from engine.similarity import _SIMHASH_CTE

    bands_q = ", ".join(
        f"(q.simhash >> {i * _BAND_BITS}) & 32767" for i in range(_BANDS)
    )
    band_join = " OR ".join(
        f"((q.simhash >> {i * _BAND_BITS}) & 32767)"
        f" = ((c.simhash >> {i * _BAND_BITS}) & 32767)"
        for i in range(_BANDS)
    )
    return f"""
    WITH {_SIMHASH_CTE},
    shm AS MATERIALIZED (SELECT doc_id, simhash FROM sh),
    q AS (SELECT doc_id, simhash FROM shm WHERE doc_id < 5)
    SELECT q.doc_id AS query_doc_id, c.doc_id,
           CAST(bit_count(xor(q.simhash, c.simhash)) AS INT) AS hamming
    FROM q JOIN shm c
      ON q.doc_id <> c.doc_id AND ({band_join})
    WHERE bit_count(xor(q.simhash, c.simhash)) <= {_RADIUS}
    ORDER BY query_doc_id, c.doc_id
    """


@register("sim_simhash_radius", sql=_simhash_radius_sql)
def sim_simhash_radius(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming-radius search over the portable 60-bit SimHash corpus:
    for each query document (doc_id < 5), every other document whose
    fingerprint is within hamming distance 3 — the point-lookup twin of
    dedup_simhash's corpus-wide bucketing, i.e. "what already in the
    corpus near-duplicates THIS doc" before ingesting it.

    Pigeonhole banding makes the lookup sub-linear: split the 60 bits
    into 4 bands of 15; distance ≤ 3 can corrupt at most 3 bands, so at
    least one band matches EXACTLY — candidates come from 4 band-value
    equi-joins (a union, never a corpus scan per query), then the exact
    popcount(xor) residual filters. At 100 TB the corpus side is
    pre-bucketed by band value (the dedup_simhash layout) and each
    query probes 4 buckets. Fingerprints are md5-derived (portable), so
    the oracle rebuilds them and the whole path — fingerprint, banding,
    residual — is value-checked."""
    from engine.session import parallelize_scan, scan_units, scratch_cache
    from engine.similarity import simhash_df

    sh = scratch_cache(
        simhash_df(
            parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
        ).select("doc_id", "simhash")
    )
    q = sh.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_doc_id"), F.col("simhash").alias("qh")
    )

    def band(col, i: int):
        return F.shiftright(col, i * _BAND_BITS).bitwiseAND(F.lit(32767))

    def banded(df, idcols: list, col: str):
        """(…, band index, band value) — one generator row per band."""
        return df.select(
            *idcols,
            F.posexplode(
                F.array(*[band(F.col(col), i) for i in range(_BANDS)])
            ).alias("bi", "bv"),
        )

    # ONE (band-index, band-value) equi-join instead of a 4-branch
    # union of per-band joins (r14, guide §2.4): the union re-read the
    # cached corpus once per band and unioned 4 join subtrees; the
    # composite key (bi, bv) preserves exactly the same candidate
    # semantics (band i of the query matches band i of the corpus).
    cand = banded(q, ["query_doc_id", "qh"], "qh").join(
        banded(sh, ["doc_id", "simhash"], "simhash"), ["bi", "bv"]
    ).drop("bi", "bv")
    ham = F.bit_count(F.col("qh").bitwiseXOR(F.col("simhash")))
    return (
        cand.distinct()
        .filter((F.col("query_doc_id") != F.col("doc_id")) & (ham <= _RADIUS))
        .select("query_doc_id", "doc_id", ham.cast("int").alias("hamming"))
        .orderBy("query_doc_id", "doc_id")
    )

# --------------------------------------------------------------------------
# Local clustering coefficient (events affinity graph)
# --------------------------------------------------------------------------


def _clustering_coeff_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE
    from engine.session import EVENTS_US_SQL

    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges
    ),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY u),
    tri AS (
      SELECT x.u, COUNT(*) AS t
      FROM adj x JOIN adj y ON y.u = x.v AND y.v > x.v
      JOIN und z ON z.a = LEAST(x.u, y.v) AND z.b = GREATEST(x.u, y.v)
      WHERE x.v < y.v  -- each wedge at u counted once (v < w)
      GROUP BY x.u
    )
    SELECT d.u AS user_id, CAST(d.d AS INT) AS degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS triangles,
           ROUND(COALESCE(t.t, 0) * 2.0 / (d.d * (d.d - 1)) * 1e6) / 1e6
             AS clustering
    FROM deg d LEFT JOIN tri t ON t.u = d.u
    WHERE d.d >= 2
    ORDER BY user_id
"""
    )


@register("graph_clustering_coefficient", sql=_clustering_coeff_sql)
def graph_clustering_coefficient(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node local clustering coefficient over the shared affinity
    graph: closed wedges at u / (deg·(deg−1)/2) — the community-
    tightness signal that separates hub-spoke from clique structure
    (graph_triangles gives the corpus total; this localizes it).

    Wedges are enumerated per CENTER node (one adjacency self-join on
    the shared endpoint, v < w so each wedge counts once) and closed by
    one equi-join back into the undirected edge set — the same join
    discipline as graph_triangles, keyed so hub fan-out is the only
    skew axis (at 100 TB: cap or sample hub wedges, the shingle-DF-cap
    rule). Degrees are a partial-aggregable count; the ratio is
    integer-exact until the final rounded division."""
    from engine.analytics import materialize_affinity_edges
    from engine.session import scratch_cache

    edges = materialize_affinity_edges(spark, sf)
    und = scratch_cache(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct()
    )
    adj = scratch_cache(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    wedges = x.join(
        y,
        (F.col("y.u") == F.col("x.v")) & (F.col("y.v") > F.col("x.v")),
    ).select(
        F.col("x.u").alias("u"),
        F.least(F.col("x.u"), F.col("y.v")).alias("ca"),
        F.greatest(F.col("x.u"), F.col("y.v")).alias("cb"),
    )
    tri = (
        wedges.join(
            und, (und["a"] == wedges["ca"]) & (und["b"] == wedges["cb"])
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    cc = F.coalesce("t", F.lit(0)) * 2.0 / (F.col("d") * (F.col("d") - 1))
    return (
        deg.join(tri, "u", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("user_id"),
            F.col("d").cast("int").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            dround(cc, 6).alias("clustering"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Max drawdown (events)
# --------------------------------------------------------------------------

_DRAWDOWN_SQL = """
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM events
    ),
    dd AS (
      SELECT user_id,
             MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) - cum AS draw
      FROM seq
    )
    SELECT user_id,
           ROUND(MAX(draw) * 1e6) / 1e6 AS max_drawdown
    FROM dd GROUP BY user_id ORDER BY user_id
"""


@register("win_drawdown_max", sql=_DRAWDOWN_SQL)
def win_drawdown_max(spark: SparkSession, sf: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value series — the
    largest peak-to-trough drop of the running sum (the finance risk
    metric, equally useful as an error-budget burn alarm on any
    cumulative KPI).

    Two stacked UNBOUNDED-PRECEDING windows over ONE user_id shuffle
    (running sum, then running max of it — Spark evaluates both in the
    same Window operator pass since they share partitioning+ordering),
    then a partial-aggregable max of the differences. Frame state is
    O(1) per task. Same two-window construction verbatim in the
    oracle, so FP accumulation order matches row-for-row."""
    ev = T(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("value").over(w)
    seq = ev.select("user_id", "ts", "event_id", cum.alias("cum"))
    draw = F.max("cum").over(w) - F.col("cum")
    dd = seq.select("user_id", draw.alias("draw"))
    return (
        dd.groupBy("user_id")
        .agg(dround(F.max("draw"), 6).alias("max_drawdown"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Burstiness (Fano factor) per event type (events)
# --------------------------------------------------------------------------

_FANO_SQL = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             COUNT(*) * 1.0 AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    s AS (
      SELECT event_type, COUNT(*) AS k, SUM(n) AS sn, SUM(n * n) AS snn
      FROM hourly GROUP BY event_type
    )
    SELECT event_type, CAST(k AS BIGINT) AS n_hours,
           ROUND(sn / k * 1e6) / 1e6 AS mean_per_hour,
           ROUND((snn - sn * sn / k) / (k - 1) / (sn / k) * 1e6) / 1e6
             AS fano_factor
    FROM s WHERE k >= 2 ORDER BY event_type
"""


@register("ts_burstiness_fano", sql=_FANO_SQL)
def ts_burstiness_fano(spark: SparkSession, sf: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of hourly event counts) per
    event type — the burstiness dial: ≈1 is Poisson-like traffic, ≫1 is
    bursty/clumped arrivals (retry storms, bot bursts), ≪1 is
    pacemaker-regular. The arrival-process twin of
    agg_seasonality_strength.

    Two partial-aggregable rollups (hourly counts, then per-type
    moment sums) — the same shared sample-variance formula text as
    agg_ab_test_welch so both engines compute the identical
    (Σn² − (Σn)²/k)/(k−1) double arithmetic."""
    hourly = (
        T(spark, sf, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg((F.count(F.lit(1)) * 1.0).alias("n"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    mean = F.col("sn") / F.col("k")
    var = (F.col("snn") - F.col("sn") * F.col("sn") / F.col("k")) / (F.col("k") - 1)
    return (
        s.filter(F.col("k") >= 2)
        .select(
            "event_type",
            F.col("k").cast("long").alias("n_hours"),
            dround(mean, 6).alias("mean_per_hour"),
            dround(var / mean, 6).alias("fano_factor"),
        )
        .orderBy("event_type")
    )

# --------------------------------------------------------------------------
# Poisson-bootstrap CI for the mean (lineitem)
# --------------------------------------------------------------------------

_BOOT_B = 16
#: modulus shared with the minhash universal family
_BOOT_P = 1_000_000_007
#: cumulative Poisson(1) CDF — exact double literals shared via repr so
#: both engines threshold the identical uniforms identically
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
)


def _bootstrap_sql() -> str:
    case = " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"""
    WITH base AS (
      SELECT l_returnflag AS grp, l_extendedprice AS x,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                             CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
               % {_BOOT_P} AS hx
      FROM lineitem
    ),
    rep AS (
      SELECT grp, x, i.i,
             (((2 * i.i + 1) * hx + 12345 * i.i) % {_BOOT_P}) * 1.0
               / {_BOOT_P} AS u
      FROM base, (SELECT UNNEST(GENERATE_SERIES(0, {_BOOT_B - 1})) AS i) i
    ),
    weighted AS (
      SELECT grp, i, x, CASE {case} ELSE 5 END AS w FROM rep
    ),
    means AS (
      SELECT grp, i, SUM(w * x) / SUM(w) AS m
      FROM weighted GROUP BY grp, i
    ),
    boot AS (
      SELECT grp, COUNT(*) * 1.0 AS b, SUM(m) AS sm, SUM(m * m) AS smm
      FROM means GROUP BY grp
    ),
    exact AS (
      SELECT grp, COUNT(*) AS n_rows, AVG(x) AS sample_mean FROM base GROUP BY grp
    )
    SELECT e.grp AS l_returnflag, e.n_rows,
           ROUND(e.sample_mean * 1e4) / 1e4 AS sample_mean,
           ROUND(b.sm / b.b * 1e4) / 1e4 AS boot_mean,
           ROUND(SQRT((b.smm - b.sm * b.sm / b.b) / (b.b - 1)) * 1e4) / 1e4
             AS boot_se,
           ROUND((b.sm / b.b - 1.96 * SQRT((b.smm - b.sm * b.sm / b.b)
                                           / (b.b - 1))) * 1e4) / 1e4 AS ci_lo,
           ROUND((b.sm / b.b + 1.96 * SQRT((b.smm - b.sm * b.sm / b.b)
                                           / (b.b - 1))) * 1e4) / 1e4 AS ci_hi
    FROM exact e JOIN boot b ON b.grp = e.grp
    ORDER BY l_returnflag
    """


@register("agg_bootstrap_mean_ci", sql=_bootstrap_sql)
def agg_bootstrap_mean_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson bootstrap (B=16 replicates) standard error + 95% CI for
    the per-returnflag mean extended price — THE distributed bootstrap:
    resampling-with-replacement is unshardable, but each row appearing
    Poisson(1) times per replicate is a pure row-local decision, so the
    whole procedure is B weighted partial-aggregable means over one
    pass (explode ×B, then groupBy (grp, replicate)) — no resample
    materialization, no driver involvement.

    Replicate weights are DETERMINISTIC: one md5 per row gives the base
    variate, replicate i's uniform comes from the minhash universal
    family ((2i+1)x + 12345i) mod p — one hash per row, cheap integer
    arithmetic per replicate — thresholded against exact Poisson(1) CDF
    double literals shared verbatim with the oracle. Every replicate
    mean, the SE, and the CI are value-checked."""
    li = T(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("x"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _BOOT_P
        ).alias("hx"),
    )
    # MEASURED NEGATIVE RESULT (r13): folding all B replicates into ONE
    # groupBy("grp") of 2B conditional-sum aggregate expressions (no
    # explode, exact stats fused — one scan, 6 jobs instead of 7) is
    # oracle-identical but measured SLOWER: interleaved A/B at sf0.1,
    # min of 4 alternating samples, 2.21 s (this form) vs 3.74 s
    # (folded). The physical plan computes md5/hx once either way; the
    # folded form's cost is the 2B per-row when-chain evaluations (the
    # w_i expression is not CSE'd between sum(w_i*x) and sum(w_i), so
    # every row pays 32 six-branch chains vs the exploded form's 16
    # one-chain rows, which Generate + partial agg stream for free).
    # Kept the explode shape — it is also the scalable one (row
    # expansion collapses in the map-side partial agg; nothing
    # materializes).
    rep = li.select(
        "grp",
        "x",
        "hx",
        F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("i"),
    ).withColumn(
        "u",
        ((2 * F.col("i") + 1).cast("long") * F.col("hx") + 12345 * F.col("i"))
        % _BOOT_P
        * 1.0
        / _BOOT_P,
    )
    w = F.lit(5)
    for k, t in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(F.col("u") < t, F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("w", w)
        .groupBy("grp", "i")
        .agg((F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("m"))
    )
    boot = means.groupBy("grp").agg(
        (F.count(F.lit(1)) * 1.0).alias("b"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    )
    exact = li.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"), F.avg("x").alias("sample_mean")
    )
    bm = F.col("sm") / F.col("b")
    se = F.sqrt((F.col("smm") - F.col("sm") * F.col("sm") / F.col("b")) / (F.col("b") - 1))
    return (
        exact.join(boot, "grp")
        .select(
            F.col("grp").alias("l_returnflag"),
            "n_rows",
            dround("sample_mean", 4).alias("sample_mean"),
            dround(bm, 4).alias("boot_mean"),
            dround(se, 4).alias("boot_se"),
            dround(bm - 1.96 * se, 4).alias("ci_lo"),
            dround(bm + 1.96 * se, 4).alias("ci_hi"),
        )
        .orderBy("l_returnflag")
    )

# --------------------------------------------------------------------------
# Per-column dataset profile (orders)
# --------------------------------------------------------------------------

#: column -> canonical string projection, shared semantics both engines
#: (doubles as exact cents, timestamps as ISO dates — engine-native
#: float/timestamp string casts differ, canonical forms don't)
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority")

_PROFILE_SQL = """
    WITH stacked AS (
      SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ),
    vc AS (
      SELECT col, val, COUNT(*) AS c FROM stacked
      WHERE val IS NOT NULL GROUP BY col, val
    ),
    top AS (
      SELECT col, val AS top_value, c AS top_count FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY col
                                     ORDER BY c DESC, val) AS rn
        FROM vc) WHERE rn = 1
    ),
    agg AS (
      SELECT col, COUNT(*) AS n_rows,
             COUNT(val) AS n_non_null,
             COUNT(DISTINCT val) AS n_distinct
      FROM stacked GROUP BY col
    )
    SELECT a.col AS column_name, a.n_rows,
           a.n_rows - a.n_non_null AS n_null,
           a.n_distinct, t.top_value,
           ROUND(t.top_count * 1.0 / a.n_rows * 1e6) / 1e6 AS top_share
    FROM agg a JOIN top t ON t.col = a.col
    ORDER BY column_name
"""


@register("scan_profile_columns", sql=_PROFILE_SQL)
def scan_profile_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column dataset profile of orders — row count, null count,
    exact distinct count, modal value and its share, one row per
    column: the data-catalog / dataset-card primitive run before any
    pipeline touches a new table.

    Columns stack into one (column, canonical-string) relation — a
    union of narrow projections over the SAME scan (each branch reads
    one column; Catalyst prunes to exactly it) — then one groupBy per
    statistic family. Canonical strings sidestep engine-native float/
    timestamp formatting: doubles become exact cents integers,
    timestamps ISO dates. The modal value ties break on the value
    string, so unique-key columns report a deterministic top. At
    100 TB the exact COUNT(DISTINCT) per column is the declared cost —
    swap in approx_count_distinct (the agg_approx_distinct path) when
    a profile beats exactness."""
    # r14 (VERDICT r13 task 4, guide §2.4): ONE scan + row-generator
    # stack instead of a 6-branch union (the union scanned orders once
    # per branch and needed a cache + two consumers), and every per-
    # column statistic folds out of the (col, val) value-count relation
    # in a SINGLE second aggregate — the full-relation countDistinct
    # expand, the rank window and the join are gone:
    #   n_rows      = Σ c            (null val kept as its own group)
    #   n_non_null  = Σ c | val not null
    #   n_distinct  = #groups | val not null
    #   top         = min(struct(-c, val)) | val not null — identical
    #                 to the old ROW_NUMBER(ORDER BY c DESC, val) pick.
    # Plan: Scan → Generate → partial agg → Exchange(col,val) → agg →
    # Exchange(col, ~distinct-values-sized) → agg. 6 scans + cache +
    # window + expand + join → 1 scan + 2 aggregates.
    from engine.session import parallelize_scan, scan_units

    # the 6x explode + value-count partial agg is the key's CPU; fan it
    # out when the local scan has no natural parallelism (no-op at
    # cluster scale) — all downstream aggregates are order-free counts
    o = parallelize_scan(T(spark, sf, "orders"), scan_units(sf, "orders"))
    pairs = [
        ("o_orderkey", F.col("o_orderkey").cast("string")),
        ("o_custkey", F.col("o_custkey").cast("string")),
        ("o_orderstatus", F.col("o_orderstatus")),
        (
            "o_totalprice",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        ),
        ("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    arr = F.array(
        *[
            F.struct(F.lit(c).alias("col"), v.alias("val"))
            for c, v in pairs
        ]
    )
    stacked = o.select(F.explode(arr).alias("x")).select("x.col", "x.val")
    vc = stacked.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    nn = F.col("val").isNotNull()
    agg = vc.groupBy("col").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(nn, F.col("c")).otherwise(0)).alias("n_non_null"),
        F.count(F.when(nn, 1)).alias("n_distinct"),
        F.min(
            F.when(nn, F.struct((-F.col("c")).alias("nc"), F.col("val").alias("v")))
        ).alias("top"),
    )
    return (
        agg.filter(F.col("n_distinct") > 0)  # the old inner join's reach
        .select(
            F.col("col").alias("column_name"),
            "n_rows",
            (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
            "n_distinct",
            F.col("top.v").alias("top_value"),
            dround((-F.col("top.nc")) * 1.0 / F.col("n_rows"), 6).alias(
                "top_share"
            ),
        )
        .orderBy("column_name")
    )

# --------------------------------------------------------------------------
# Transaction-log snapshot scan (lakehouse manifest replay, orders)
# --------------------------------------------------------------------------


def _manifest_fixture(sf: str) -> str:
    """Plant a deterministic Delta-style table directory: 4 parquet
    data files (orders sliced by o_orderkey % 4) plus a _log/ of
    JSON-lines commits — v0 adds part-0/part-1, v1 adds part-2 and
    REMOVES part-1, v2 adds part-3, so the live snapshot is
    {part-0, part-2, part-3}. An artifact of the orders table
    (the scan_binaryfile contract); built JVM-free with pyarrow."""
    import json as _json
    import pathlib

    from engine.session import artifact, artifact_path

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        root = pathlib.Path(tmp)
        t = pq.read_table(f"{sf}/orders.parquet")
        (root / "_log").mkdir()
        key_mod = pc.bit_wise_and(t["o_orderkey"], 3)
        for i in range(4):
            pq.write_table(
                t.filter(pc.equal(key_mod, i)), root / f"part-{i}.parquet"
            )
        commits = {
            0: [{"op": "add", "file": "part-0.parquet"},
                {"op": "add", "file": "part-1.parquet"}],
            1: [{"op": "add", "file": "part-2.parquet"},
                {"op": "remove", "file": "part-1.parquet"}],
            2: [{"op": "add", "file": "part-3.parquet"}],
        }
        for v, actions in commits.items():
            (root / "_log" / f"{v:05d}.json").write_text(
                "\n".join(
                    _json.dumps({"version": v, "seq": s, **a})
                    for s, a in enumerate(actions)
                )
            )

    return artifact(artifact_path("manifest", sf, ("orders",)), build)


def _manifest_oracle_sql() -> str:
    # fixture SF from SPARK_GRAFT_ORACLE_SF (the r9 scan-oracle
    # convention, applied r13): 3-SF sims compare the same fixture the
    # Spark side plants; the driver's sweep resolves to sf0.01
    from engine.session import oracle_sf

    path = _manifest_fixture(oracle_sf())
    return f"""
    WITH log AS (
      SELECT version, seq, op, file
      FROM read_json('{path}/_log/*.json',
                     format='newline_delimited',
                     columns={{'version': 'BIGINT', 'seq': 'BIGINT',
                               'op': 'VARCHAR', 'file': 'VARCHAR'}})
    ),
    latest AS (
      SELECT file, op FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY file
                                     ORDER BY version DESC, seq DESC) AS rn
        FROM log) WHERE rn = 1
    ),
    live AS (SELECT file FROM latest WHERE op = 'add'),
    data AS (
      SELECT o_orderstatus, o_totalprice,
             parse_filename(filename) AS fname
      FROM read_parquet('{path}/part-*.parquet', filename=true)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM data JOIN live ON live.file = data.fname
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("scan_manifest_snapshot", sql=_manifest_oracle_sql)
def scan_manifest_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot scan over a transaction-log table (the Delta/Iceberg
    mechanic, engine-neutral): replay the JSON-lines commit log — the
    LATEST action per file wins (version, then intra-commit seq) — to
    the live file set, then aggregate only live data files. Add-then-
    remove files (part-1 here) must not leak into the result: that is
    snapshot isolation expressed relationally.

    Both the replay (one latest-per-key window over the file-sized log)
    and the membership (filename semi-join, file list broadcast) are
    relations — no driver file-list mutation; at 100 TB the log is
    orders of magnitude smaller than the data and the filename join
    prunes at the scan's file listing in a production reader (here the
    semi-join expresses the same semantics engine-neutrally). Money
    sums ride exact integer cents (the TPC-H suite contract)."""
    path = _manifest_fixture(sf)
    log = spark.read.schema("version long, seq long, op string, file string").json(
        path + "/_log/*.json"
    )
    w = Window.partitionBy("file").orderBy(F.col("version").desc(), F.col("seq").desc())
    live = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "add"))
        .select("file")
    )
    data = spark.read.parquet(path + "/part-*.parquet").select(
        "o_orderstatus",
        "o_totalprice",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
    )
    return (
        data.join(F.broadcast(live), data.fname == live.file)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )

# --------------------------------------------------------------------------
# Time-travel read at an earlier snapshot version
# --------------------------------------------------------------------------

_TRAVEL_VERSION = 1


def _time_travel_oracle_sql() -> str:
    from engine.session import oracle_sf

    path = _manifest_fixture(oracle_sf())  # see _manifest_oracle_sql
    return f"""
    WITH log AS (
      SELECT version, seq, op, file
      FROM read_json('{path}/_log/*.json',
                     format='newline_delimited',
                     columns={{'version': 'BIGINT', 'seq': 'BIGINT',
                               'op': 'VARCHAR', 'file': 'VARCHAR'}})
      WHERE version <= {_TRAVEL_VERSION}
    ),
    latest AS (
      SELECT file, op FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY file
                                     ORDER BY version DESC, seq DESC) AS rn
        FROM log) WHERE rn = 1
    ),
    live AS (SELECT file FROM latest WHERE op = 'add'),
    data AS (
      SELECT o_orderstatus, o_totalprice,
             parse_filename(filename) AS fname
      FROM read_parquet('{path}/part-*.parquet', filename=true)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM data JOIN live ON live.file = data.fname
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("scan_manifest_time_travel", sql=_time_travel_oracle_sql)
def scan_manifest_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Time-travel read of the transaction-log table AS OF version 1:
    identical replay to scan_manifest_snapshot but the log is truncated
    at the requested version FIRST — v1's snapshot is {part-0, part-2}
    (part-1 added at v0 then removed at v1; part-3 doesn't exist yet).
    Reproducing yesterday's training set exactly is the pipeline
    use-case; the version filter on the log is the whole mechanism.

    Same relational shape as the head-snapshot scan: latest-per-file
    window over the (now version-bounded) log, broadcast filename
    semi-join onto the data scan."""
    path = _manifest_fixture(sf)
    log = (
        spark.read.schema("version long, seq long, op string, file string")
        .json(path + "/_log/*.json")
        .filter(F.col("version") <= _TRAVEL_VERSION)
    )
    w = Window.partitionBy("file").orderBy(F.col("version").desc(), F.col("seq").desc())
    live = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "add"))
        .select("file")
    )
    data = spark.read.parquet(path + "/part-*.parquet").select(
        "o_orderstatus",
        "o_totalprice",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
    )
    return (
        data.join(F.broadcast(live), data.fname == live.file)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )
