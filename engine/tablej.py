"""Round-5 wave 2 (SURVEY.md §2 Table J): weighted sampling, basket
co-occurrence mining, and lakehouse file-maintenance planning — three
operator families a 100 TB training-data platform runs routinely that
the prior tables didn't yet cover.

Scale design notes (100 TB posture):
- priority sampling: the whole corpus collapses through ONE
  TakeOrderedAndProject (per-partition top-k + driver merge of k-row
  heaps — no global sort, no shuffle of the data). The priority is a
  pure per-row expression (md5-derived uniform, one IEEE division), so
  the scan stays in whole-stage codegen. This is Duffield–Lund–Thorup
  priority sampling: q_i = w_i / u_i, keep the k largest — a provably
  near-optimal weighted sample w.r.t. subset-sum estimation.
- frequent pairs: the pair join is per-basket (equi-join on the basket
  key), so its cost is Σ_b |b|², bounded by the ITEM-TYPE cardinality
  squared per basket — never corpus², and never a cross join. Marginals
  and the basket total are one extra aggregation each; the single-row
  total is broadcast back (BroadcastNestedLoopJoin on 1 row, not a
  CartesianProduct).
- compaction planning: the input is the FILES-METADATA relation (the
  table catalog / manifest), already orders of magnitude smaller than
  the data; the plan is one window cumsum + one aggregation per
  partition. This mirrors what OPTIMIZE-style bin packing does: order
  files within a partition, accumulate toward a target size, emit bins.
  All arithmetic is exact integers, so the DuckDB oracle replays the
  identical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround
from engine.registry import register
from engine.session import EVENTS_US_SQL, T, scratch_cache, tiny_df

# --------------------------------------------------------------------------
# Weighted sampling without replacement: priority sampling (top-k by w/u)
# --------------------------------------------------------------------------

_PRIORITY_K = 50

#: 2^60 — the md5-derived 60-bit integer maps to a uniform in (0, 1]
#: via (h + 1) / 2^60. Long→double conversion and the division are both
#: IEEE-determined, so Spark and DuckDB compute bit-identical uniforms.
_U_DENOM = float(1 << 60)

_PRIORITY_SQL = f"""
    SELECT doc_id,
           n_chars AS weight,
           ROUND(n_chars /
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   + 1) / {int(_U_DENOM)}.0) * 1e4) / 1e4 AS priority
    FROM documents
    ORDER BY priority DESC, doc_id
    LIMIT {_PRIORITY_K}
"""


def priority_keyed(df: DataFrame, id_col: str, weight_col: str) -> DataFrame:
    """Attach the priority-sampling key q = w / u to each row, where
    u ∈ (0, 1] is a portable md5-derived uniform of the row id. Every
    op is IEEE-exact (integer+1, long→double cast, one division), so
    any engine with md5 reproduces the identical priorities — the
    contract that lets the oracle value-check the SAMPLE ITSELF, not
    just its size."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(_U_DENOM)
    return df.withColumn(
        "priority", dround(F.col(weight_col).cast("double") / u, 4)
    )


@register("sample_weighted_priority", sql=_PRIORITY_SQL)
def sample_weighted_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sample WITHOUT replacement of 50 documents, weight =
    n_chars (longer documents proportionally likelier) — priority
    sampling (Duffield–Lund–Thorup): per row draw u ~ U(0,1], keep the
    k rows with the largest priority q = w/u. The sampler behind
    "sample the corpus by token count" in a mixing pipeline, chosen
    over A-ES (u^(1/w)) because q = w/u needs no pow/log — only IEEE
    division — so the draw is bit-reproducible across engines.

    Plan shape: orderBy(priority).limit(k) → TakeOrderedAndProject
    (per-partition top-k heaps merged on the driver; the corpus itself
    never shuffles). Ordering uses the ROUNDED priority with the doc id
    as tie-break, so both engines rank the same boundary rows."""
    d = T(spark, sf, "documents")
    return (
        priority_keyed(d, "doc_id", "n_chars")
        .select("doc_id", F.col("n_chars").alias("weight"), "priority")
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(_PRIORITY_K)
    )


# --------------------------------------------------------------------------
# Frequent pairs (market-basket co-occurrence with support + lift)
# --------------------------------------------------------------------------

_PAIR_MIN_USERS = 10

_FREQUENT_PAIRS_SQL = f"""
    WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM baskets),
    marg AS (SELECT event_type, COUNT(*) AS m FROM baskets GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS pair_users
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, pair_users,
           ROUND(pair_users / (n.n_users * 1.0) * 1e6) / 1e6 AS support,
           ROUND(pair_users * n.n_users / (ma.m * mb.m * 1.0) * 1e4) / 1e4
             AS lift
    FROM pairs
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN n
    WHERE pair_users >= {_PAIR_MIN_USERS}
    ORDER BY pair_users DESC, type_a, type_b
"""


def frequent_pairs(baskets: DataFrame, min_count: int) -> DataFrame:
    """Co-occurring item pairs over (basket_id, item) rows with support
    and lift — the candidate-pair pass of Apriori/FP-growth, kept fully
    relational: the self-join is keyed on basket_id, so work is
    Σ_b C(|b|, 2) (bounded by item-type cardinality per basket), never
    an all-pairs compare. lift = P(ab) / (P(a)·P(b)) in exact integer
    cross-multiplication before ONE final double division."""
    b = baskets.select(
        F.col(baskets.columns[0]).alias("bid"),
        F.col(baskets.columns[1]).alias("item"),
    ).distinct()
    tot = b.agg(F.count_distinct("bid").alias("n_users"))
    marg = b.groupBy("item").agg(F.count(F.lit(1)).alias("m"))
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.bid") == F.col("y.bid"))
            & (F.col("x.item") < F.col("y.item")),
        )
        .groupBy(
            F.col("x.item").alias("type_a"), F.col("y.item").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_users"))
        .filter(F.col("pair_users") >= min_count)
    )
    ma = marg.select(F.col("item").alias("type_a"), F.col("m").alias("ma"))
    mb = marg.select(F.col("item").alias("type_b"), F.col("m").alias("mb"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "pair_users",
            dround(F.col("pair_users") / F.col("n_users").cast("double"), 6).alias(
                "support"
            ),
            dround(
                (F.col("pair_users") * F.col("n_users"))
                / (F.col("ma") * F.col("mb")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_users").desc(), "type_a", "type_b")
    )


@register("agg_frequent_pairs", sql=_FREQUENT_PAIRS_SQL)
def agg_frequent_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket pair mining over user event-type baskets: which
    event types co-occur in the same user's history, with support
    (share of users) and lift (observed / independence-expected). The
    first pass of any association-rule or co-engagement analysis.

    Baskets = DISTINCT (user_id, event_type) — the per-basket pair join
    is capped at C(#event_types, 2) pairs per user, linear in users.
    Marginals and the single-row basket total are broadcast back onto
    the pair relation (the 1-row total rides a BroadcastNestedLoopJoin,
    not a CartesianProduct)."""
    ev = T(spark, sf, "events").select("user_id", "event_type")
    return frequent_pairs(ev, _PAIR_MIN_USERS)


# --------------------------------------------------------------------------
# Compaction plan (small-file bin packing over a files-metadata relation)
# --------------------------------------------------------------------------

_COMPACT_TARGET = 32_768  # target bin size in bytes
_COMPACT_ROW_BYTES = 128  # synthetic per-row footprint of the files fixture

_COMPACTION_SQL = f"""
    WITH files AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part,
             l_orderkey % 8 AS file_id,
             COUNT(*) * {_COMPACT_ROW_BYTES} AS bytes
      FROM lineitem GROUP BY 1, 2
    ),
    planned AS (
      SELECT part, file_id, bytes,
             COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM files
    )
    SELECT part, CAST(cum_before // {_COMPACT_TARGET} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes
    FROM planned
    GROUP BY part, cum_before // {_COMPACT_TARGET}
    ORDER BY part, bin
"""


def compaction_bins(files: DataFrame, target: int) -> DataFrame:
    """Bin-pack a (part, file_id, bytes) files relation into compaction
    groups of ~``target`` bytes: within each partition, files in
    file_id order accumulate; a file's bin is floor(bytes-before /
    target). The relational form of OPTIMIZE-style greedy packing —
    deterministic, one window cumsum + one aggregation, exact integer
    arithmetic throughout (a bin may overshoot the target by at most
    one file, the same guarantee greedy accumulation gives)."""
    w = (
        Window.partitionBy("part")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        planned.withColumn("bin", F.expr(f"cum_before div {target}"))
        .groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("part", "bin")
    )


@register("scan_compaction_plan", sql=_COMPACTION_SQL)
def scan_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planning — the lakehouse maintenance op
    that turns a files-metadata relation into OPTIMIZE work units: per
    table partition (ship month), pack files (order-key buckets, bytes
    = rows × 128 as the synthetic footprint) into ~32 KB bins by
    cumulative size. At 100 TB the input is the catalog's file
    manifest — already tiny next to the data — and the output drives
    the rewrite jobs; the data itself is never read. Spark's bin
    assignment (`div` on exact longs) and DuckDB's (`//`) agree on all
    non-negative values."""
    li = T(spark, sf, "lineitem")
    files = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("part"),
        F.pmod("l_orderkey", F.lit(8)).alias("file_id"),
    ).agg((F.count(F.lit(1)) * _COMPACT_ROW_BYTES).alias("bytes"))
    return compaction_bins(files, _COMPACT_TARGET)


# --------------------------------------------------------------------------
# Label propagation communities (fixed synchronous rounds)
# --------------------------------------------------------------------------

_LP_ROUNDS = 3
_LP_TOP = 20

def _lp_cte_sql() -> str:
    """The shared LPA prelude: events → affinity edges → undirected view
    → _LP_ROUNDS synchronous rounds, ending at lab{_LP_ROUNDS}. Both the
    community-histogram oracle and the modularity oracle compose it, so
    the rounds are defined ONCE."""
    from engine.analytics import AFFINITY_EDGES_CTE

    rounds = []
    for i in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
    cnt{i} AS (
      SELECT u.dst AS v, l.label, COUNT(*) AS c
      FROM und u JOIN lab{i - 1} l ON l.v = u.src
      GROUP BY u.dst, l.label
    ),
    lab{i} AS (
      SELECT v, label FROM (
        SELECT v, label,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY c DESC, label) AS rn
        FROM cnt{i}) WHERE rn = 1
    )""")
    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + """,
    und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges)
    ),
    nodes AS (SELECT DISTINCT src AS v FROM und),
    lab0 AS (SELECT v, v AS label FROM nodes),"""
        + ",".join(rounds)
    )


def _lp_oracle_sql() -> str:
    return (
        _lp_cte_sql()
        + f"""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS size
    FROM lab{_LP_ROUNDS}
    GROUP BY label ORDER BY size DESC, label LIMIT {_LP_TOP}
"""
    )


def _lp_py(und_rows) -> dict[int, int]:
    """The exact synchronous LPA loop on collected (src, dst) rows —
    shared by the driver label path and the driver modularity path."""
    from collections import Counter, defaultdict

    adj: dict[int, list[int]] = defaultdict(list)
    for r in und_rows:
        adj[r["dst"]].append(r["src"])
    label = {v: v for v in adj}
    for _ in range(_LP_ROUNDS):
        nxt = {}
        for v, nbrs in adj.items():
            cnt = Counter(label[u] for u in nbrs)
            # mode with min-label tie-break: max count, then min label
            nxt[v] = min(cnt, key=lambda lb: (-cnt[lb], lb))
        label = nxt
    return label


def _lp_labels_driver(spark: SparkSession, und: DataFrame) -> DataFrame:
    """Exact synchronous label propagation on the collected undirected
    edge list — bounded by the counted precondition. Returns the
    per-node (v, label) relation."""
    label = _lp_py(und.collect())
    return tiny_df(
        spark, sorted(label.items()) or [(0, 0)][:0], "v long, label long"
    )


def _lp_labels_distributed(und: DataFrame) -> DataFrame:
    """Synchronous rounds, each exactly one join + one count aggregate +
    one per-node window — the 100 TB shape (labels and edges both hash
    on the node id; no driver state beyond the round counter). Returns
    the per-node (v, label) relation."""
    labels = und.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    for _ in range(_LP_ROUNDS):
        cnt = (
            und.join(labels, und["src"] == labels["v"])
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("dst").orderBy(F.col("c").desc(), "label")
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("v"), "label")
        )
    return labels


def _lp_histogram(labels: DataFrame) -> DataFrame:
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.col("size").desc(), "label")
        .limit(_LP_TOP)
    )


def _lp_driver(spark: SparkSession, und: DataFrame) -> DataFrame:
    return _lp_histogram(_lp_labels_driver(spark, und))


def _lp_distributed(und: DataFrame) -> DataFrame:
    return _lp_histogram(_lp_labels_distributed(und))


def _lp_und(edges: DataFrame) -> DataFrame:
    """Undirected distinct view of the affinity multigraph."""
    return (
        edges.select("src", "dst")
        .union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )


@register("graph_label_propagation", sql=_lp_oracle_sql)
def graph_label_propagation(
    spark: SparkSession, sf: str, distributed: bool = False
) -> DataFrame:
    """Community detection by label propagation — 3 SYNCHRONOUS rounds
    over the undirected view of the shared affinity graph, each node
    adopting the modal neighbor label with a min-label tie-break (the
    determinism that plain LPA lacks), then the 20 largest communities.
    Fixed rounds + deterministic tie-break make the fixpoint a pure
    function of the graph, so the oracle unrolls the identical rounds
    in SQL and value-checks the community histogram.

    ADAPTIVE physical strategy (the graph-family rule): the edge list is
    counted first; driver-sized graphs run the exact Python loop (3
    rounds of distributed window-argmax cost more in stage scheduling
    than the graph costs to collect), larger ones run the distributed
    shape — per round ONE equi-join + count aggregate + per-node
    window, everything hashed on the node id. Both paths compute the
    identical histogram (asserted in tests). ``distributed=True`` skips
    the count and forces the distributed shape
    (graph_lp_distributed)."""
    from engine.analytics import driver_sized, materialize_affinity_edges

    und = scratch_cache(_lp_und(materialize_affinity_edges(spark, sf)))
    if not distributed and driver_sized(und):
        return _lp_driver(spark, und)
    return _lp_distributed(und)


@register("graph_lp_distributed", sql=_lp_oracle_sql)
def graph_lp_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """graph_label_propagation with the DISTRIBUTED path FORCED — no
    counted-size fallback. This is the exact code that runs at 100 TB
    (per round: one equi-join + one count aggregate + one per-node
    window, labels and edges both hashed on the node id, no driver
    state beyond the round counter), registered as its own key so the
    external correctness sweep certifies the scale path itself, not
    just the driver-exact twin it is equivalence-tested against.
    Identical oracle: both paths compute the same fixpoint because the
    rounds are synchronous and the tie-break is deterministic."""
    return graph_label_propagation(spark, sf, distributed=True)


# --------------------------------------------------------------------------
# Bounded Bellman-Ford: weighted shortest distances in <= K relaxations
# --------------------------------------------------------------------------

_BF_ROUNDS = 4
_BF_SEEDS = 3


def _bf_oracle_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE

    rounds = []
    for i in range(1, _BF_ROUNDS + 1):
        rounds.append(f"""
    d{i} AS (
      SELECT v, MIN(dist) AS dist FROM (
        SELECT v, dist FROM d{i - 1}
        UNION ALL
        SELECT ed.dst AS v, d.dist + ed.wt AS dist
        FROM d{i - 1} d JOIN w ed ON ed.src = d.v) GROUP BY v
    )""")
    return (
        f"""
    WITH e AS ({EVENTS_US_SQL}),
"""
        + AFFINITY_EDGES_CTE
        + f""",
    w AS (SELECT src, dst, COUNT(*) AS wt FROM edges GROUP BY src, dst),
    seeds AS (SELECT DISTINCT src AS v FROM w ORDER BY v LIMIT {_BF_SEEDS}),
    d0 AS (SELECT v, 0 AS dist FROM seeds),"""
        + ",".join(rounds)
        + f"""
    SELECT v, CAST(dist AS BIGINT) AS dist FROM d{_BF_ROUNDS} ORDER BY v
"""
    )


def _bf_driver(spark: SparkSession, w: DataFrame) -> DataFrame:
    """Exact bounded relaxation on the collected weighted edge list."""
    from collections import defaultdict

    adj: dict[int, list[tuple[int, int]]] = defaultdict(list)
    nodes = set()
    for r in w.collect():
        adj[r["src"]].append((r["dst"], r["wt"]))
        nodes.add(r["src"])
    seeds = sorted(nodes)[:_BF_SEEDS]
    dist = {v: 0 for v in seeds}
    for _ in range(_BF_ROUNDS):
        nxt = dict(dist)
        for u, du in dist.items():
            for v, wt in adj.get(u, ()):
                if du + wt < nxt.get(v, float("inf")):
                    nxt[v] = du + wt
        dist = nxt
    rows = sorted(dist.items())
    return tiny_df(spark, rows, "v long, dist long")


def _bf_distributed(w: DataFrame) -> DataFrame:
    """K relaxation rounds, each one join + one min aggregate — the
    distributed Bellman-Ford shape (dist and edges hash on the node).

    Loop shuffles are right-sized to the graph
    (:func:`engine.analytics.loop_shuffles`): a 4-round recurrence over
    a frontier orders of magnitude smaller than the fact pays pure
    scheduler overhead on stock 32-way exchanges — measured 4.4 s →
    1.8 s at sf0.1 from this alone. Results are exact integers,
    invariant to the partition count (pinned by the
    partition-invariance tests)."""
    from engine.analytics import loop_shuffles

    spark = w.sparkSession
    n_edges = w.count()  # scratch-cached by the caller: cheap
    with loop_shuffles(spark, n_edges, 20_000):
        seeds = (
            w.select(F.col("src").alias("v"))
            .distinct()
            .orderBy("v")
            .limit(_BF_SEEDS)
        )
        dist = seeds.select("v", F.lit(0).cast("long").alias("dist"))
        for _ in range(_BF_ROUNDS):
            relaxed = dist.join(w, dist["v"] == w["src"]).select(
                F.col("dst").alias("v"),
                (F.col("dist") + F.col("wt")).alias("dist"),
            )
            dist = dist.unionAll(relaxed).groupBy("v").agg(
                F.min("dist").cast("long").alias("dist")
            )
        # materialize under the loop conf (checkpoint returns the
        # materialized frame; the raw plan would otherwise execute
        # after the block restores the session's partition count)
        return dist.orderBy("v").localCheckpoint(eager=True)


@register("graph_sssp_bellman_ford", sql=_bf_oracle_sql)
def graph_sssp_bellman_ford(
    spark: SparkSession, sf: str, distributed: bool = False
) -> DataFrame:
    """Weighted single-source(-set) shortest distances, bounded to 4
    relaxation rounds — distributed Bellman-Ford from the 3 smallest
    node ids over the affinity multigraph collapsed to weighted edges
    (weight = edge multiplicity, so paths trade hop count against tie
    strength and the arithmetic stays exact integers). Bounded rounds =
    "shortest path within K hops", the production form when the graph
    diameter is unbounded but influence beyond K hops is irrelevant.

    Same adaptive rule as label propagation: counted driver-sized edge
    lists run the exact Python relaxation; at scale each round is ONE
    equi-join (dist ⋈ edges on the node id) + one min aggregate, driver
    carrying only the round counter. The oracle unrolls the identical
    recurrence, so every distance is value-checked.
    ``distributed=True`` skips the count and forces the distributed
    relaxation (graph_sssp_distributed)."""
    from engine.analytics import driver_sized, materialize_affinity_edges

    edges = materialize_affinity_edges(spark, sf)
    w = scratch_cache(
        edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("wt"))
    )
    if not distributed and driver_sized(w):
        return _bf_driver(spark, w)
    return _bf_distributed(w)


@register("graph_sssp_distributed", sql=_bf_oracle_sql)
def graph_sssp_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """graph_sssp_bellman_ford with the DISTRIBUTED relaxation FORCED —
    the 100 TB code path (per round: one equi-join of the frontier
    against the weighted edge list + one min aggregate, both hashed on
    the node id) registered as its own key so the external sweep
    value-checks the scale path directly rather than only the
    driver-exact twin. Identical oracle: the recurrence is a pure
    function of the weighted edge list, so both paths agree exactly."""
    return graph_sssp_bellman_ford(spark, sf, distributed=True)


# --------------------------------------------------------------------------
# Interval overlap join (grid-bucketed candidates, exact verify)
# --------------------------------------------------------------------------

_OVERLAP_TOP = 20
_OVERLAP_MIN_EVENTS = 3

_INTERVAL_OVERLAP_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    iv AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             epoch_ns(MIN(ts)) // 1000000000 AS s,
             epoch_ns(MAX(ts)) // 1000000000 AS e2
      FROM e WHERE event_type = 'purchase'
      GROUP BY user_id, date_trunc('day', ts)
      HAVING COUNT(*) >= {_OVERLAP_MIN_EVENTS}
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.day,
           CAST(LEAST(a.e2, b.e2) - GREATEST(a.s, b.s) AS BIGINT)
             AS overlap_s
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e2 AND b.s <= a.e2
    ORDER BY overlap_s DESC, user_a, user_b, a.day
    LIMIT {_OVERLAP_TOP}
"""


def interval_overlap_pairs(iv: DataFrame, grid_s: int) -> DataFrame:
    """Overlapping interval pairs from an (owner, day, s, e2) intervals
    relation — the grid-bucket interval join: each interval explodes to
    the ``grid_s``-second cells it touches, candidates equi-join on
    (day, cell) — never an all-pairs compare, and never a range-only
    theta join — then dedup and EXACT overlap verify. Candidate count
    scales with true collisions per cell, the property that keeps an
    interval self-join feasible when the interval table is billions of
    rows. Returns (user_a, user_b, day, overlap_s)."""
    cells = iv.select(
        "user_id",
        "day",
        "s",
        "e2",
        F.explode(
            F.sequence(
                F.expr(f"s div {grid_s}"), F.expr(f"e2 div {grid_s}")
            )
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .filter(
            (F.col("a.s") <= F.col("b.e2")) & (F.col("b.s") <= F.col("a.e2"))
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.day").alias("day"),
            (
                F.least(F.col("a.e2"), F.col("b.e2"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            ).cast("long").alias("overlap_s"),
        )
        .distinct()  # one row per pair however many cells they share
    )
    return cand


@register("join_interval_overlap", sql=_INTERVAL_OVERLAP_SQL)
def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap self-join: per-user purchase activity intervals
    (user-days with >= 3 purchase events; [first, last] purchase epoch
    seconds), find cross-user pairs whose intervals overlap on the same
    day and rank by overlap duration — concurrent-activity detection
    (fraud rings, capacity planning, co-session analysis).

    Scale shape: candidates come from an hour-grid bucket join
    (intervals explode to touched hour cells, equi-join on (day, cell),
    dedup) — cost follows real collisions per cell rather than
    intervals², the standard spatial-grid treatment of a 1-D interval
    join; the exact overlap predicate then verifies. Epochs ride exact
    integer seconds end-to-end; the final top-20 is
    TakeOrderedAndProject. The oracle brute-forces the same-day theta
    join — feasible at oracle scale, identical semantics."""
    from engine.canon import floordiv_sql

    ev = T(spark, sf, "events").filter(F.col("event_type") == "purchase")
    iv = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
            F.count(F.lit(1)).alias("n_ev"),
        )
        .filter(F.col("n_ev") >= _OVERLAP_MIN_EVENTS)
        .select(
            "user_id",
            "day",
            floordiv_sql("unix_micros(ts_min)", 1_000_000).alias("s"),
            floordiv_sql("unix_micros(ts_max)", 1_000_000).alias("e2"),
        )
    )
    return (
        interval_overlap_pairs(scratch_cache(iv), grid_s=3600)
        .orderBy(F.col("overlap_s").desc(), "user_a", "user_b", "day")
        .limit(_OVERLAP_TOP)
    )


# --------------------------------------------------------------------------
# Zipf law fit over the token frequency distribution
# --------------------------------------------------------------------------

_ZIPF_TOP = 500

_ZIPF_SQL = f"""
    WITH counts AS (
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    top AS (
      SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {_ZIPF_TOP}
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM top
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(REGR_SLOPE(LN(cnt), LN(rnk)) * 1e6) / 1e6 + 0.0 AS slope,
           ROUND(REGR_INTERCEPT(LN(cnt), LN(rnk)) * 1e4) / 1e4 + 0.0
             AS intercept,
           ROUND(POWER(CORR(LN(cnt), LN(rnk)), 2) * 1e6) / 1e6 + 0.0 AS r2
    FROM ranked
"""


@register("text_zipf_fit", sql=_ZIPF_SQL)
def text_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS of
    ln(frequency) on ln(rank) over the top-500 tokens — slope near -1
    says natural language, deviations flag boilerplate/templated or
    synthetic text (a standard corpus-quality diagnostic next to
    text_repetition_ratio).

    The vocabulary aggregates with partial (map-side) combine; the
    top-500 selection is orderBy+limit → TakeOrderedAndProject with a
    deterministic (cnt, token) tie-break, so BOTH engines rank the
    identical 500 (ties at the boundary included); ranks derive AFTER
    the limit, so the only single-partition work is over 500 rows. The
    regression aggregates are one partial-aggregable pass (sums and
    products underneath); results canonicalize at 1e6/1e4 because the
    final divisions are accumulation-order sensitive across engines."""
    d = T(spark, sf, "documents")
    top = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_ZIPF_TOP)
    )
    ranked = top.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "token"))
        .alias("rnk"),
    )
    lx, ly = F.log(F.col("rnk").cast("double")), F.log(F.col("cnt").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        (dround(F.regr_slope(ly, lx), 6) + F.lit(0.0)).alias("slope"),
        (dround(F.regr_intercept(ly, lx), 4) + F.lit(0.0)).alias("intercept"),
        (dround(F.pow(F.corr(ly, lx), 2), 6) + F.lit(0.0)).alias("r2"),
    )


# --------------------------------------------------------------------------
# Modularity of the label-propagation partition
# --------------------------------------------------------------------------


def _modularity_oracle_sql() -> str:
    return (
        _lp_cte_sql()
        + f""",
    deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src),
    m2 AS (SELECT COUNT(*) AS two_m FROM und),
    within AS (
      SELECT COUNT(*) AS w_tot
      FROM und u
      JOIN lab{_LP_ROUNDS} la ON la.v = u.src
      JOIN lab{_LP_ROUNDS} lb ON lb.v = u.dst
      WHERE la.label = lb.label
    ),
    dc AS (
      SELECT l.label, SUM(d.d) AS d_c
      FROM lab{_LP_ROUNDS} l JOIN deg d ON d.v = l.v
      GROUP BY l.label
    )
    SELECT CAST((SELECT COUNT(*) FROM dc) AS BIGINT) AS n_communities,
           CAST(two_m // 2 AS BIGINT) AS m_edges,
           ROUND((two_m * (SELECT w_tot FROM within)
                  - (SELECT SUM(d_c * d_c) FROM dc))
                 / (two_m * two_m * 1.0) * 1e6) / 1e6 AS q_modularity
    FROM m2
"""
    )


@register("graph_modularity_lp", sql=_modularity_oracle_sql)
def graph_modularity_lp(spark: SparkSession, sf: str) -> DataFrame:
    """Modularity Q of the label-propagation partition — the standard
    "was this clustering any good" score: Q = Σ_c (m_c/m − (d_c/2m)²)
    over the same undirected affinity graph and the same 3-round LPA
    labels as graph_label_propagation (shared rounds: one SQL fragment,
    one Spark helper — the metric can never drift from the clustering
    it grades).

    Exact integer core: with W_c = directed within-community edge
    count and 2m = directed edge count, Q = (2m·ΣW_c − Σd_c²) / (2m)²
    — integer numerator, ONE double division, then the canonical
    rounding. Every aggregation is partial-aggregable; the label join
    hashes on the node id twice (src side, dst side)."""
    from engine.analytics import driver_sized, materialize_affinity_edges

    und = scratch_cache(_lp_und(materialize_affinity_edges(spark, sf)))
    if driver_sized(und):
        # driver path: the edge list is already counted driver-sized, so
        # the LPA labels AND the modularity sums (all exact integers)
        # compute in one pass over the collected edges — one Spark job
        # instead of five (the adaptive-graph contract, metric edition)
        rows = und.collect()
        label = _lp_py(rows)
        two_m = len(rows)
        w_tot = sum(1 for r in rows if label[r["src"]] == label[r["dst"]])
        deg: dict[int, int] = {}
        for r in rows:
            deg[r["src"]] = deg.get(r["src"], 0) + 1
        d_c: dict[int, int] = {}
        for v, d in deg.items():
            d_c[label[v]] = d_c.get(label[v], 0) + d
        import math

        q = (two_m * w_tot - sum(x * x for x in d_c.values())) / (
            two_m * two_m
        )
        q = math.floor(q * 1e6 + 0.5) / 1e6 if q >= 0 else -(
            math.floor(-q * 1e6 + 0.5) / 1e6
        )
        return tiny_df(
            spark,
            [(len(d_c), two_m // 2, q)],
            "n_communities long, m_edges long, q_modularity double",
        )
    labels = scratch_cache(_lp_labels_distributed(und))
    la = labels.select(F.col("v").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("v").alias("dst"), F.col("label").alias("lb"))
    w_tot = (
        und.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).alias("w_tot"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dc = (
        labels.join(deg, labels["v"] == deg["src"])
        .groupBy("label")
        .agg(F.sum("d").alias("d_c"))
    )
    dstats = dc.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
    )
    two_m = und.agg(F.count(F.lit(1)).alias("two_m"))
    return (
        two_m.crossJoin(F.broadcast(w_tot))
        .crossJoin(F.broadcast(dstats))
        .select(
            "n_communities",
            F.expr("two_m div 2").cast("long").alias("m_edges"),
            dround(
                (
                    F.col("two_m") * F.col("w_tot") - F.col("sum_dc2")
                ).cast("double")
                / (F.col("two_m") * F.col("two_m")).cast("double"),
                6,
            ).alias("q_modularity"),
        )
    )


# --------------------------------------------------------------------------
# Additive seasonal decomposition of hourly event counts
# --------------------------------------------------------------------------

_SEASONAL_HALF = 12  # centered moving-average half-width (25-hour window)

_SEASONAL_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    hourly AS (
      SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             COUNT(*) AS c
      FROM e GROUP BY event_type, epoch_ns(ts) // 3600000000000
    ),
    trended AS (
      SELECT event_type, hr, c,
             AVG(c) OVER w AS trend,
             COUNT(*) OVER w AS n_win
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN {_SEASONAL_HALF} PRECEDING
                            AND {_SEASONAL_HALF} FOLLOWING)
    ),
    detr AS (
      SELECT event_type, hr % 24 AS hod, c - trend AS dv
      FROM trended WHERE n_win = {2 * _SEASONAL_HALF + 1}
    ),
    seas AS (
      SELECT event_type, hod, AVG(dv) AS s, COUNT(*) AS n_obs
      FROM detr GROUP BY event_type, hod
    )
    SELECT d.event_type, CAST(d.hod AS INT) AS hod,
           ROUND(s.s * 1e4) / 1e4 + 0.0 AS seasonal,
           CAST(s.n_obs AS BIGINT) AS n_obs,
           ROUND(AVG(ABS(d.dv - s.s)) * 1e4) / 1e4 + 0.0 AS mean_abs_rem
    FROM detr d JOIN seas s ON s.event_type = d.event_type AND s.hod = d.hod
    GROUP BY d.event_type, d.hod, s.s, s.n_obs
    ORDER BY d.event_type, hod
"""


@register("ts_seasonal_decompose", sql=_SEASONAL_SQL)
def ts_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition of the hourly event-count series,
    per event type: trend = centered 25-hour moving average (full
    windows only), seasonal = mean detrended value per hour-of-day,
    remainder = what's left — the classical decompose that turns "is
    traffic seasonal" into 24 numbers per series, with the remainder
    magnitude as the model-fit diagnostic.

    One shuffle keys the hourly rollup, a second keys the per-type
    window (windows PARTITION BY event_type, so no single-reducer
    global sort — the series per type is hours-of-span long, fine at
    any corpus size); counts are exact integers through the moving
    average (sum-of-ints / 25), and the same frame text runs on both
    engines so FP accumulation matches. Canonicalized at 1e4."""
    from engine.canon import floordiv_sql

    ev = T(spark, sf, "events")
    hourly = (
        ev.select(
            "event_type", floordiv_sql("unix_micros(ts)", 3_600_000_000).alias("hr")
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-_SEASONAL_HALF, _SEASONAL_HALF)
    )
    detr = (
        hourly.select(
            "event_type",
            "hr",
            "c",
            F.avg("c").over(w).alias("trend"),
            F.count(F.lit(1)).over(w).alias("n_win"),
        )
        .filter(F.col("n_win") == 2 * _SEASONAL_HALF + 1)
        .select(
            "event_type",
            F.pmod("hr", F.lit(24)).cast("int").alias("hod"),
            (F.col("c") - F.col("trend")).alias("dv"),
        )
    )
    detr = scratch_cache(detr)
    seas = detr.groupBy("event_type", "hod").agg(
        F.avg("dv").alias("s"), F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    return (
        detr.join(F.broadcast(seas), ["event_type", "hod"])
        .groupBy("event_type", "hod", "s", "n_obs")
        .agg(F.avg(F.abs(F.col("dv") - F.col("s"))).alias("rem"))
        .select(
            "event_type",
            "hod",
            (dround(F.col("s"), 4) + F.lit(0.0)).alias("seasonal"),
            "n_obs",
            (dround(F.col("rem"), 4) + F.lit(0.0)).alias("mean_abs_rem"),
        )
        .orderBy("event_type", "hod")
    )


# --------------------------------------------------------------------------
# N-gram novelty: per-doc share of shingles first seen in THIS doc
# --------------------------------------------------------------------------

_NOVELTY_SQL = """
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    inv AS (SELECT doc_id, UNNEST(sh) AS s FROM shing WHERE LEN(sh) > 0),
    firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM inv GROUP BY s)
    SELECT i.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END)
                 / (COUNT(*) * 1.0) * 1e6) / 1e6 AS novelty
    FROM inv i JOIN firsts f ON f.s = i.s
    GROUP BY i.doc_id ORDER BY i.doc_id
"""


@register("text_ngram_novelty", sql=_NOVELTY_SQL)
def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    5-shingles whose FIRST corpus occurrence (min doc_id — the ingest
    order proxy) is this document. The streaming-ingest quality signal
    behind "is this crawl batch adding anything new", and the per-doc
    complement of agg_dup_profile's corpus-level view.

    Two keyed shuffles total: the shingle inverted index aggregates
    min(doc_id) per shingle (partial-aggregable), then first-ownership
    joins back on the shingle and re-aggregates per doc. Shingle
    traffic carries strings once; no all-pairs anything. Same shingle
    definition as the dedup family (engine/similarity._shingles), so
    the novelty score is consistent with what dedup would collapse."""
    from engine.similarity import materialize_shingle_index

    inv = scratch_cache(
        materialize_shingle_index(spark, sf).select(
            "doc_id", F.explode("sh").alias("s")
        )
    )
    firsts = inv.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (
        inv.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            dround(
                F.col("n_novel") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Staged dedup funnel report (exact -> near-dup), pipeline observability
# --------------------------------------------------------------------------


def _cascade_oracle_sql() -> str:
    from engine.similarity import _MINHASH_SQL

    return f"""
    WITH n0 AS (SELECT COUNT(*) AS n FROM documents),
    exact_keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    n1 AS (SELECT COUNT(*) AS n FROM exact_keep),
    mp AS (SELECT a, b FROM ({_MINHASH_SQL}) near_pairs),
    near_removed AS (
      SELECT DISTINCT p.b AS doc_id
      FROM mp p
      JOIN exact_keep ka ON ka.doc_id = p.a
      JOIN exact_keep kb ON kb.doc_id = p.b
    ),
    r2 AS (SELECT COUNT(*) AS n FROM near_removed)
    SELECT stage, CAST(n_in AS BIGINT) AS n_in,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(n_out AS BIGINT) AS n_out
    FROM (
      SELECT '1_exact' AS stage, n0.n AS n_in, n0.n - n1.n AS n_removed,
             n1.n AS n_out
      FROM n0, n1
      UNION ALL
      SELECT '2_near', n1.n, r2.n, n1.n - r2.n FROM n1, r2)
    ORDER BY stage
"""


@register("pipeline_dedup_cascade_report", sql=_cascade_oracle_sql)
def pipeline_dedup_cascade_report(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup funnel, as a report: stage 1 removes exact duplicates
    (keep the smallest doc_id per md5(text) group), stage 2 removes
    every exact-survivor that MinHash-near-dups (jaccard_dist ≤ 0.3,
    the dedup_near_minhash banding) a smaller exact-survivor. Per-stage
    in/removed/out counts — the dataset-card number a production
    cascade logs after every run, and the observability twin of the
    decision keys (dedup_exact / dedup_near_minhash).

    Cost profile at 100 TB: stage 1 is one hash-groupBy on a 16-byte
    fingerprint; stage 2 reuses the banded LSH pair relation (shared
    shingle artifact — no second shingle build) semi-joined against the
    survivor set; the report itself assembles from three 1-row
    aggregates (broadcast), one job. The near rule is a one-sweep
    "remove b of every (a < b) surviving pair", deterministic and
    identical in the oracle (NOT chained clustering — dedup_clusters
    is the transitive-closure variant)."""
    from engine.session import scan_units
    from engine.similarity import materialize_shingle_index, minhash_pairs

    d = T(spark, sf, "documents")
    n0 = d.agg(F.count(F.lit(1)).alias("n0"))
    exact_keep = scratch_cache(
        d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    )
    n1 = exact_keep.agg(F.count(F.lit(1)).alias("n1"))
    pairs = minhash_pairs(
        d,
        units=scan_units(sf, "documents"),
        shingled=scratch_cache(materialize_shingle_index(spark, sf)),
    ).select("a", "b")
    ka = exact_keep.select(F.col("doc_id").alias("a"))
    kb = exact_keep.select(F.col("doc_id").alias("b"))
    r2 = (
        pairs.join(ka, "a")
        .join(kb, "b")
        .select("b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("r2"))
    )
    rep = n0.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(r2))
    row = F.explode(
        F.array(
            F.struct(
                F.lit("1_exact").alias("stage"),
                F.col("n0").cast("long").alias("n_in"),
                (F.col("n0") - F.col("n1")).cast("long").alias("n_removed"),
                F.col("n1").cast("long").alias("n_out"),
            ),
            F.struct(
                F.lit("2_near").alias("stage"),
                F.col("n1").cast("long").alias("n_in"),
                F.col("r2").cast("long").alias("n_removed"),
                (F.col("n1") - F.col("r2")).cast("long").alias("n_out"),
            ),
        )
    )
    return rep.select(row.alias("s")).select("s.*").orderBy("stage")


# --------------------------------------------------------------------------
# Embedding centroid drift between corpus halves, per label
# --------------------------------------------------------------------------

_DRIFT_SQL = """
    WITH e AS (
      SELECT vec_id, label, vec_id % 2 AS h, embedding FROM embeddings
    ),
    dims AS (
      SELECT label, h, u.pos,
             SUM(CAST(ROUND(embedding[u.pos] * 1e6) AS BIGINT)) AS s
      FROM e, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS u(pos)
      GROUP BY label, h, u.pos
    ),
    ca AS (SELECT label, pos, s FROM dims WHERE h = 0),
    cb AS (SELECT label, pos, s FROM dims WHERE h = 1),
    geom AS (
      SELECT ca.label,
             SUM(ca.s * cb.s) AS dp,
             SUM(ca.s * ca.s) AS na,
             SUM(cb.s * cb.s) AS nb
      FROM ca JOIN cb ON ca.label = cb.label AND ca.pos = cb.pos
      GROUP BY ca.label
    ),
    cnt AS (
      SELECT label,
             SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS n_b
      FROM e GROUP BY label
    )
    SELECT g.label, CAST(c.n_a AS BIGINT) AS n_a, CAST(c.n_b AS BIGINT) AS n_b,
           ROUND(g.dp / (SQRT(g.na * 1.0) * SQRT(g.nb * 1.0)) * 1e6) / 1e6
             AS cosine
    FROM geom g JOIN cnt c ON c.label = g.label
    ORDER BY g.label
"""


@register("sim_centroid_drift", sql=_DRIFT_SQL)
def sim_centroid_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into two
    deterministic halves (vec_id parity — the A/B the monitor would
    run between yesterday's and today's batch), compute the per-label
    centroid of each half, and report the cosine between the two
    centroids — cosine ≈ 1 says the label's embedding mass hasn't
    moved; a drop flags drift for that class.

    Exact-integer core: each component is fixed to micro-units
    (round(v·1e6) as long) BEFORE the per-dimension sums, so the
    centroid numerators are exact integers and — because cosine is
    scale-invariant — the count divisions cancel entirely: cosine =
    Σs_a·s_b / (√Σs_a² · √Σs_b²) on exact longs, one sqrt+division at
    the end (headroom: |s| ≤ rows·1e6, squares sum within int64
    through sf0.1; a larger corpus re-scales the unit). One shuffle
    keys (label, half, dim) — 10×2×64 cells regardless of corpus size;
    partial aggregation collapses each partition first."""
    e = T(spark, sf, "embeddings").select(
        "vec_id", "label", F.pmod("vec_id", F.lit(2)).alias("h"), "embedding"
    )
    dims = (
        e.select(
            "label",
            "h",
            F.posexplode("embedding").alias("pos0", "v"),
        )
        .select(
            "label",
            "h",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("v").cast("double") * 1e6, 0).cast("long").alias("us"),
        )
        .groupBy("label", "h", "pos")
        .agg(F.sum("us").alias("s"))
    )
    dims = scratch_cache(dims)
    ca = dims.filter("h = 0").select("label", "pos", F.col("s").alias("sa"))
    cb = dims.filter("h = 1").select("label", "pos", F.col("s").alias("sb"))
    geom = (
        ca.join(cb, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dp"),
            F.sum(F.col("sa") * F.col("sa")).alias("na"),
            F.sum(F.col("sb") * F.col("sb")).alias("nb"),
        )
    )
    cnt = e.groupBy("label").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return (
        geom.join(cnt, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            dround(
                F.col("dp")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest (MAE / bias per series)
# --------------------------------------------------------------------------

_SNAIVE_LAG_H = 168  # one week of hours

_SNAIVE_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    hourly AS (
      SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
             COUNT(*) AS c
      FROM e GROUP BY event_type, epoch_ns(ts) // 3600000000000
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           ROUND(SUM(ABS(a.c - f.c)) / (COUNT(*) * 1.0) * 1e4) / 1e4 AS mae,
           ROUND(SUM(a.c - f.c) / (COUNT(*) * 1.0) * 1e4) / 1e4 + 0.0 AS bias
    FROM hourly a
    JOIN hourly f ON f.event_type = a.event_type
                 AND f.hr = a.hr - {_SNAIVE_LAG_H}
    GROUP BY a.event_type ORDER BY a.event_type
"""


@register("ts_forecast_snaive", sql=_SNAIVE_SQL)
def ts_forecast_snaive(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's event
    count with the count from the SAME hour one week earlier
    (y_hat(t) = y(t-168h)) and score MAE + signed bias per event type —
    the baseline every real forecaster must beat, and the cheapest
    continuous forecast-quality monitor a pipeline can run.

    The forecast join is an equi-join on (event_type, hr-168) — NOT a
    LAG(168) window, which would be wrong on a gappy hourly series
    (rows ≠ hours); hours with no week-ago observation simply don't
    score. Errors stay exact integers until the two final divisions
    (the canonical rounding). Two shuffles total: the hourly rollup
    and the (event_type, hr)-keyed self-join."""
    from engine.canon import floordiv_sql

    ev = T(spark, sf, "events")
    hourly = scratch_cache(
        ev.select(
            "event_type",
            floordiv_sql("unix_micros(ts)", 3_600_000_000).alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = hourly.select("event_type", "hr", F.col("c").alias("actual"))
    f = hourly.select(
        "event_type",
        (F.col("hr") + _SNAIVE_LAG_H).alias("hr"),
        F.col("c").alias("fc"),
    )
    return (
        a.join(f, ["event_type", "hr"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            dround(
                F.sum(F.abs(F.col("actual") - F.col("fc")))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mae"),
            (
                dround(
                    F.sum(F.col("actual") - F.col("fc"))
                    / F.count(F.lit(1)).cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("bias"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Sliding-window approximate distinct via mergeable HLL registers
# --------------------------------------------------------------------------

_HLL_M = 64          # registers (2^6); relative error ~ 1.04/sqrt(64) = 13%
_HLL_WINDOW_H = 24   # trailing window, hours
#: alpha_64 * m^2, pre-scaled by 2^55 so the register sum stays an exact
#: integer (see docstring); 0.709 is the standard alpha for m = 64. The
#: chain double(0.709) * 2^12 * 2^55 is exact scaling of one parsed
#: literal — both engines hold the identical constant.
_HLL_CONST = 0.709 * 4096.0 * float(2**55)

_HLL_SLIDING_SQL = f"""
    WITH e AS ({EVENTS_US_SQL}),
    hu AS (SELECT DISTINCT epoch_ns(ts) // 3600000000000 AS hr, user_id FROM e),
    hashed AS (SELECT hr, ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                           1, 15))::BIGINT AS h FROM hu),
    obs AS (
      SELECT hr, h % {_HLL_M} AS j,
             MAX(CASE WHEN h // {_HLL_M} = 0 THEN 55
                      ELSE 55 - LENGTH(bin(h // {_HLL_M})) END) AS rho
      FROM hashed GROUP BY hr, h % {_HLL_M}
    ),
    hrs AS (SELECT DISTINCT hr FROM hu),
    grid AS (SELECT hrs.hr, js.j
             FROM hrs CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
                                  {_HLL_M - 1})) AS j) js),
    merged AS (
      SELECT g.hr, g.j,
             COALESCE(MAX(o.rho) OVER (PARTITION BY g.j ORDER BY g.hr
                      RANGE BETWEEN {_HLL_WINDOW_H - 1} PRECEDING
                            AND CURRENT ROW), 0) AS m
      FROM grid g LEFT JOIN obs o ON o.hr = g.hr AND o.j = g.j
    ),
    est AS (
      SELECT hr,
             SUM(1::BIGINT << (55 - m)) AS s_scaled,
             SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v_zero
      FROM merged GROUP BY hr
    ),
    tw AS (
      SELECT t.hr, COUNT(DISTINCT u.user_id) AS exact_distinct
      FROM hrs t JOIN hu u ON u.hr BETWEEN t.hr - {_HLL_WINDOW_H - 1} AND t.hr
      GROUP BY t.hr
    )
    SELECT e2.hr,
           ROUND(CASE WHEN {_HLL_CONST!r} / (e2.s_scaled * 1.0)
                           <= {2.5 * _HLL_M} AND e2.v_zero > 0
                      THEN {float(_HLL_M)!r} * LN({float(_HLL_M)!r} / e2.v_zero)
                      ELSE {_HLL_CONST!r} / (e2.s_scaled * 1.0) END * 1e4) / 1e4
             AS hll_est,
           CAST(e2.v_zero AS BIGINT) AS v_zero,
           CAST(tw.exact_distinct AS BIGINT) AS exact_distinct
    FROM est e2 JOIN tw ON tw.hr = e2.hr
    ORDER BY e2.hr
"""


@register("win_hll_sliding_distinct", sql=_HLL_SLIDING_SQL)
def win_hll_sliding_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-24 h approximate distinct users per hour via MERGEABLE
    HyperLogLog registers — the streaming-observability pattern where
    each hour keeps a 64-register sketch and any window is answered by
    max-merging the member sketches, never re-touching raw data. The
    exact trailing distinct count rides alongside as the value-checked
    accuracy twin (win_distinct_rolling's exact cousin at sketch cost).

    Portability contract: the md5-derived hash splits into register
    j = h mod 64 and rank rho = 55 − bitlen(h div 64); the window
    merge is MAX over an hr-RANGE frame per register (gap-correct);
    the harmonic sum is kept EXACT by scaling each 2^−M term to the
    integer 2^(55−M) — Σ fits int64 (≤ 64·2^55) — so both engines
    divide the identical constant alpha·m²·2^55 by the identical
    integer. Linear-counting small-range correction (m·ln(m/V) when
    raw ≤ 2.5 m and V > 0) matches the published estimator; ln is the
    only transcendental and rides under the 1e4 rounding.

    Scale: state is (hours × 64) register cells — calendar-sized; the
    raw corpus is touched once for the per-hour register build. The
    exact twin explodes each (hr, user) into its ≤ 24 target hours
    (equi-join, no theta join) — the honest exact cost the sketch
    avoids at 100 TB."""
    from engine.canon import floordiv_sql

    ev = T(spark, sf, "events")
    hu = (
        ev.select(
            floordiv_sql("unix_micros(ts)", 3_600_000_000).alias("hr"),
            "user_id",
        ).distinct()
    )
    hu = scratch_cache(hu)
    from engine.session import hash60

    hashed = hu.select("hr", hash60("user_id").alias("h"))
    w_field = F.expr(f"h div {_HLL_M}")
    obs = (
        hashed.select(
            "hr",
            F.pmod("h", F.lit(_HLL_M)).alias("j"),
            F.when(w_field == 0, F.lit(55))
            .otherwise(F.lit(55) - F.length(F.expr(f"bin(h div {_HLL_M})")))
            .alias("rho"),
        )
        .groupBy("hr", "j")
        .agg(F.max("rho").alias("rho"))
    )
    hrs = hu.select("hr").distinct()
    js = spark.range(_HLL_M).select(F.col("id").cast("long").alias("j"))
    grid = hrs.crossJoin(F.broadcast(js))
    win = (
        Window.partitionBy("j")
        .orderBy("hr")
        .rangeBetween(-(_HLL_WINDOW_H - 1), 0)
    )
    merged = grid.join(obs, ["hr", "j"], "left").select(
        "hr",
        "j",
        F.coalesce(F.max("rho").over(win), F.lit(0)).alias("m"),
    )
    est = merged.groupBy("hr").agg(
        F.sum(F.expr("shiftleft(1L, cast(55 - m AS int))")).alias("s_scaled"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).cast("long").alias("v_zero"),
    )
    raw = F.lit(_HLL_CONST) / F.col("s_scaled").cast("double")
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("v_zero") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v_zero")),
    ).otherwise(raw)
    # exact twin: explode each (hr, user) into the <= 24 hours whose
    # trailing window contains it, then count distinct per target hour
    tgt = hu.select(
        F.explode(
            F.sequence(F.col("hr"), F.col("hr") + (_HLL_WINDOW_H - 1))
        ).alias("hr"),
        "user_id",
    )
    tw = (
        tgt.join(hrs, "hr")
        .groupBy("hr")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    )
    return (
        est.join(tw, "hr")
        .select(
            "hr",
            dround(corrected, 4).alias("hll_est"),
            "v_zero",
            "exact_distinct",
        )
        .orderBy("hr")
    )


# --------------------------------------------------------------------------
# Join-size estimation from mergeable count-min sketches vs exact
# --------------------------------------------------------------------------

_JSZ_DEPTH = 4
_JSZ_WIDTH = 1024

_JOIN_SIZE_SQL = f"""
    WITH js AS (SELECT UNNEST(GENERATE_SERIES(0, {_JSZ_DEPTH - 1})) AS j),
    ca AS (
      SELECT js.j,
             (('0x' || substr(md5(js.j || ':' ||
                 CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT)
               % {_JSZ_WIDTH} AS bucket,
             COUNT(*) AS cell
      FROM lineitem, js GROUP BY js.j, bucket
    ),
    cb AS (
      SELECT js.j,
             (('0x' || substr(md5(js.j || ':' ||
                 CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT)
               % {_JSZ_WIDTH} AS bucket,
             COUNT(*) AS cell
      FROM orders, js GROUP BY js.j, bucket
    ),
    per_row AS (
      SELECT ca.j, SUM(ca.cell * cb.cell) AS est
      FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
      GROUP BY ca.j
    ),
    sketch AS (SELECT MIN(est) AS est_join_rows FROM per_row),
    tots AS (
      SELECT (SELECT COUNT(*) FROM lineitem) AS tot_a,
             (SELECT COUNT(*) FROM orders) AS tot_b
    ),
    exact AS (
      SELECT SUM(a.c * b.c) AS exact_join_rows
      FROM (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1) a
      JOIN (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1) b
        ON a.k = b.k
    )
    SELECT CAST(exact_join_rows AS BIGINT) AS exact_join_rows,
           CAST(est_join_rows AS BIGINT) AS est_join_rows,
           CAST(est_join_rows - exact_join_rows AS BIGINT) AS overcount,
           CAST(tot_a * tot_b // 1024 AS BIGINT) AS expected_noise
    FROM sketch, exact, tots
"""


@register("agg_join_size_estimate", sql=_JOIN_SIZE_SQL)
def agg_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation — the optimizer primitive as a
    query: |lineitem ⋈ orders on orderkey| estimated from two
    count-min sketches (depth 4 × width 1024, the shared portable md5
    family) as min over rows of the sketch-row DOT PRODUCT
    Σ_b cmA[j,b]·cmB[j,b] — the classic AGMS-style inner-product
    estimate, a one-sided overestimate exactly like the point-query
    bound — next to the EXACT size from the per-key count join
    (Σ_k cntA(k)·cntB(k)). What a planner consults before picking
    broadcast vs shuffle vs sort-merge when the build side is too big
    to count exactly.

    The estimate is a ONE-SIDED overestimate whose additive error
    concentrates around ΣA·ΣB/width — reported alongside as
    expected_noise so the consumer reads the bound correctly (a
    planner compares est against broadcast thresholds ORDERS OF
    MAGNITUDE apart; sketch noise at this width is decision-grade).
    Everything is exact integer arithmetic (counts, products, sums,
    min), so the oracle reproduces the estimate bit-for-bit. Sketch
    cost: each side collapses to ≤ depth×width cells with map-side
    combine — constant-size state however large the fact tables; the
    exact twin pays one per-key aggregation per side plus a key join
    (the cost the sketch exists to avoid)."""
    li = T(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k"))
    od = T(spark, sf, "orders").select(F.col("o_orderkey").alias("k"))

    def bucket(j: int) -> F.Column:
        # the tablei _cm_bucket hash family at THIS key's width
        from engine.session import hash60

        tagged = F.concat(F.lit(f"{j}:"), F.col("k").cast("string"))
        return hash60(tagged) % _JSZ_WIDTH

    def sketch(df: DataFrame) -> DataFrame:
        rows = [
            df.select(F.lit(j).alias("j"), bucket(j).alias("bucket"))
            for j in range(_JSZ_DEPTH)
        ]
        u = rows[0]
        for r in rows[1:]:
            u = u.unionAll(r)
        return u.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cell"))

    ca = sketch(li)
    cb = sketch(od)
    per_row = (
        ca.join(cb.withColumnRenamed("cell", "cell_b"), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("cell") * F.col("cell_b")).alias("est"))
    )
    sk = per_row.agg(F.min("est").alias("est_join_rows"))
    a = li.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    b = od.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        a.join(b, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("exact_join_rows"))
    )
    tots = li.agg(F.count(F.lit(1)).alias("tot_a")).crossJoin(
        F.broadcast(od.agg(F.count(F.lit(1)).alias("tot_b")))
    )
    return (
        exact.crossJoin(F.broadcast(sk))
        .crossJoin(F.broadcast(tots))
        .select(
            F.col("exact_join_rows").cast("long").alias("exact_join_rows"),
            F.col("est_join_rows").cast("long").alias("est_join_rows"),
            (F.col("est_join_rows") - F.col("exact_join_rows"))
            .cast("long")
            .alias("overcount"),
            F.expr(f"(tot_a * tot_b) div {_JSZ_WIDTH}")
            .cast("long")
            .alias("expected_noise"),
        )
    )
