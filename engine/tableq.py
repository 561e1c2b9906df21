"""Round-7 sixth wave (SURVEY.md §2 Table Q): link prediction with
degree-weighted common neighbors (Adamic–Adar), a lakehouse
partition-scheme EVOLUTION scan (monthly layout → daily layout read as
one table with pruning on both), class-balanced downsampling, Burrows'
Delta authorship stylometry, and greedy BPE merge APPLICATION (the
tokenizer's inference half, next to pipeline_bpe_pair_counts' training
half).

Reference parity: the reference (coursework fork, SURVEY.md §0) has no
analog; established contracts apply — exact integer statistics with
per-term quantization wherever a float SUM would be order-sensitive
(Adamic–Adar terms, Burrows z-differences), decimal/HUGEINT promotion
for 100 TB magnitudes, broadcast dictionaries, the portable md5 hash
family, and windows only over bounded relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround
from engine.registry import register
from engine.session import T, artifact, artifact_path, scratch_cache, tiny_df

# --------------------------------------------------------------------------
# Adamic-Adar link prediction (affinity graph, degree-weighted wedges)
# --------------------------------------------------------------------------

_AA_TOPN = 20
#: per-term quantization: 1/ln(deg) → integer nano-units, so the
#: per-pair SUM is exact integer arithmetic (float sums over a shuffle
#: have engine-dependent addition order; quantize-then-sum does not)
_AA_UNIT = 1_000_000_000


def _aa_oracle_sql() -> str:
    from engine.analytics import AFFINITY_EDGES_CTE
    from engine.session import EVENTS_US_SQL

    return f"""
    WITH e AS ({EVENTS_US_SQL}),
    {AFFINITY_EDGES_CTE.strip()},
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges
    ),
    nbr AS MATERIALIZED (
      SELECT a AS z, b AS x FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS MATERIALIZED (SELECT z, COUNT(*) AS d FROM nbr GROUP BY z),
    wedge AS (
      SELECT n1.x AS a, n2.x AS b, n1.z
      FROM nbr n1 JOIN nbr n2 ON n2.z = n1.z AND n1.x < n2.x
    ),
    scored AS (
      SELECT w.a, w.b, COUNT(*) AS n_common,
             CAST(SUM(CAST(ROUND({_AA_UNIT} / LN(d.d)) AS BIGINT))
                  AS BIGINT) AS aa_units
      FROM wedge w JOIN deg d ON d.z = w.z
      GROUP BY w.a, w.b
    )
    SELECT s.a, s.b, s.n_common, s.aa_units
    FROM scored s LEFT JOIN und u ON u.a = s.a AND u.b = s.b
    WHERE u.a IS NULL
    ORDER BY s.aa_units DESC, s.a, s.b LIMIT {_AA_TOPN}
"""


@register("graph_adamic_adar_link_prediction", sql=_aa_oracle_sql)
def graph_adamic_adar_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic–Adar link prediction over the shared affinity graph: for
    every NON-edge pair with common neighbors, score
    Σ_{{z∈N(a)∩N(b)}} 1/ln(deg z) — the degree-weighted upgrade of
    graph_jaccard_link_prediction (a shared HUB says little; a shared
    3-degree acquaintance says a lot). Top-{_AA_TOPN} predicted links.

    Exactness: each 1/ln(deg) term quantizes to integer nano-units
    BEFORE the per-pair sum, so aggregation order cannot move a hash
    (deg ≥ 2 for any common neighbor, so ln > 0). Plan: the wedge
    enumeration is one self-equi-join of the neighbor relation on z —
    the graph_triangles shape, partial-aggregable counts after; hub
    skew is the disclosed cost driver (AQE skew-split; a production
    variant caps N(z) per z). Existing edges leave via one anti-join.
    Cached relations are right-sized to the edge count
    (affinity_edge_parts — r13, guide §2.2: a 32-partition cached
    layout on a few-thousand-edge graph made every downstream job pay
    32-65 task launches; the repartition precedes the distinct so the
    dedup aggregate reuses its exchange)."""
    from engine.analytics import affinity_edge_parts, materialize_affinity_edges

    edges = materialize_affinity_edges(spark, sf)
    p = affinity_edge_parts(spark, sf)
    und = scratch_cache(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .repartition(p, "a", "b")
        .dropDuplicates()
    )
    nbr = scratch_cache(
        und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
            und.select(F.col("b").alias("z"), F.col("a").alias("x"))
        )
    )
    deg = nbr.groupBy("z").agg(F.count("*").alias("d"))
    n1 = nbr.select("z", F.col("x").alias("a"))
    n2 = nbr.select(F.col("z").alias("z2"), F.col("x").alias("b"))
    term = dround(F.lit(_AA_UNIT) / F.log(F.col("d")), 0).cast("long")
    scored = (
        n1.join(n2, (F.col("z") == F.col("z2")) & (F.col("a") < F.col("b")))
        .join(deg, "z")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"), F.sum(term).alias("aa_units"))
    )
    return (
        scored.join(und, ["a", "b"], "left_anti")
        .orderBy(F.col("aa_units").desc(), "a", "b")
        .limit(_AA_TOPN)
    )


# --------------------------------------------------------------------------
# Partition-scheme evolution scan (monthly layout -> daily layout)
# --------------------------------------------------------------------------

_PE_MONTH_A = "1996-03"
_PE_MONTH_B = "1997-03"

_PE_SQL = f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('{_PE_MONTH_A}', '{_PE_MONTH_B}')
    GROUP BY 1 ORDER BY 1
"""


@register("scan_partition_evolution", sql=_PE_SQL)
def scan_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-scheme EVOLUTION: the same logical table written under
    two physical layouts — history partitioned by MONTH, the later
    regime repartitioned by DAY (the lakehouse migration every growing
    table eventually makes) — then read as ONE relation with partition
    pruning active on BOTH layouts: an exact month key prunes the
    monthly directories, a month PREFIX (StartsWith) prunes the daily
    ones. Completes the layout axis next to sink_parquet_partitioned
    (one scheme) and scan_parquet_schema_evolution (column evolution).

    Oracled against the source table: parquet round-trips exactly and
    the partition filters commute with the group-by. At 100 TB the
    point is that NO rewrite of history is needed — the union view
    spans both layouts and each side still prunes (plan-gated:
    PartitionFilters on both subtrees)."""
    o = T(spark, sf, "orders").select(
        "o_orderkey",
        dround(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderdate",
    )
    # the two-layout fixture is an artifact (engine.session.artifact):
    # the daily layout alone is ~365 directories whose rewrite dominated
    # the key (~6 s of commit overhead at sf0.1) while the layouts are a
    # pure function of orders
    def build(tmp: str) -> None:
        o.filter(F.year("o_orderdate") <= 1996).withColumn(
            "month_str", F.date_format("o_orderdate", "yyyy-MM")
        ).select("o_orderkey", "cents", "month_str").write.mode(
            "overwrite"
        ).partitionBy("month_str").parquet(tmp + "/monthly")
        o.filter(F.year("o_orderdate") == 1997).withColumn(
            "day_str", F.date_format("o_orderdate", "yyyy-MM-dd")
        ).select("o_orderkey", "cents", "day_str").write.mode(
            "overwrite"
        ).partitionBy("day_str").parquet(tmp + "/daily")

    out = artifact(artifact_path("part_evolution", sf, ("orders",)), build)
    out_m, out_d = out + "/monthly", out + "/daily"
    a = (
        spark.read.parquet(out_m)
        .filter(F.col("month_str") == _PE_MONTH_A)
        .select("o_orderkey", "cents", F.col("month_str").alias("month"))
    )
    b = (
        spark.read.parquet(out_d)
        .filter(F.col("day_str").startswith(_PE_MONTH_B))
        .select(
            "o_orderkey", "cents", F.substring("day_str", 1, 7).alias("month")
        )
    )
    return (
        a.unionByName(b)
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Class-balanced downsample (documents per language, hash-priority cap)
# --------------------------------------------------------------------------

_BAL_CAP = 30

_BAL_SQL = f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5('bal:' || CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT, doc_id) AS rn
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           CAST(SUM(doc_id) AS BIGINT) AS member_checksum
    FROM ranked WHERE rn <= {_BAL_CAP}
    GROUP BY lang ORDER BY lang
"""


@register("sample_balanced_downsample", sql=_BAL_SQL)
def sample_balanced_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """Class-BALANCING downsample: cap every language at {_BAL_CAP}
    documents by deterministic hash priority — the rebalancing step a
    skewed training mixture needs (sample_stratified keeps proportions;
    this EQUALIZES classes, the other half of the sampling toolbox).
    The md5 priority makes the sample a pure function of the ids:
    membership itself is value-checked via an id-sum checksum, not just
    counted. Under SPARK_GRAFT_FAST_HASH the priority differs
    (bench-only mode, the seeded-shuffle disclosure).

    Plan: one window per class ranks by (hash, id). At 100 TB the
    per-class sort is the cost driver — the production refinement
    pre-filters on hash < k/N-quantile-estimate before the exact
    window (the top-k-per-group shape, WindowGroupLimit) so almost all
    rows never sort; semantics identical."""
    from engine.session import hash60

    w = Window.partitionBy("lang").orderBy(
        hash60(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        T(spark, sf, "documents")
        .select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BAL_CAP)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.sum("doc_id").alias("member_checksum"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Burrows' Delta authorship stylometry (documents sources)
# --------------------------------------------------------------------------

_BD_TOPK = 20
_BD_PAIRS = 10

_BD_SQL = f"""
    WITH toks AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    c AS MATERIALIZED (
      SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    tot AS (SELECT source, SUM(cnt) AS t FROM c GROUP BY 1),
    topk AS MATERIALIZED (
      SELECT tok FROM (
        SELECT tok, SUM(cnt) AS g,
               ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, tok) AS rn
        FROM c GROUP BY tok) WHERE rn <= {_BD_TOPK}
    ),
    fq AS MATERIALIZED (
      SELECT t.source, k.tok,
             CAST(ROUND(1e9 * COALESCE(c.cnt, 0) / t.t) AS BIGINT) AS f
      FROM tot t CROSS JOIN topk k
      LEFT JOIN c ON c.source = t.source AND c.tok = k.tok
    ),
    st AS (
      SELECT tok, COUNT(*) AS n, SUM(CAST(f AS HUGEINT)) AS s,
             SUM(CAST(f AS HUGEINT) * f) AS ssq
      FROM fq GROUP BY tok
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.tok,
             CASE WHEN st.n * st.ssq - st.s * st.s = 0 THEN 0
                  ELSE CAST(ROUND(1e6 * ABS(CAST(st.n * (a.f - b.f)
                                                 AS DOUBLE))
                            / SQRT(CAST(st.n * st.ssq - st.s * st.s
                                        AS DOUBLE))) AS BIGINT) END AS zq
      FROM fq a JOIN fq b ON b.tok = a.tok AND a.source < b.source
      JOIN st ON st.tok = a.tok
    )
    SELECT src_a, src_b,
           CAST(SUM(zq) AS BIGINT) AS delta_units,
           COUNT(*) AS n_tokens
    FROM pairs GROUP BY 1, 2
    ORDER BY delta_units ASC, src_a, src_b LIMIT {_BD_PAIRS}
"""


@register("text_burrows_delta", sql=_BD_SQL)
def text_burrows_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Burrows' Delta — the standard authorship-attribution /
    style-similarity measure: z-score each source's relative frequency
    of the top-{_BD_TOPK} corpus tokens against the cross-source
    distribution, then Delta(a,b) = mean |z_a − z_b|. Reported: the
    {_BD_PAIRS} most stylistically similar source pairs (duplicate or
    templated feeds surface here before any content-level dedup fires).

    Exactness ladder: relative frequencies quantize to 1e-9 integer
    units (ONE division each); per-token moments are exact integer
    sums (HUGEINT/decimal); each |z_a − z_b| = n·|f_a − f_b| / √(n·Σf²
    − S²) quantizes to 1e-6 units BEFORE the per-pair sum — no
    order-sensitive float accumulation anywhere. Plan: token counts
    partial-aggregate; the top-K dictionary broadcasts; the pair matrix
    is source-cardinality², built per token — bounded by the
    dictionary, never by rows."""
    dec = "decimal(38,0)"
    toks = (
        T(spark, sf, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
    )
    c = scratch_cache(
        toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    )
    tot = c.groupBy("source").agg(F.sum("cnt").alias("t"))
    w_top = Window.orderBy(F.col("g").desc(), "tok")  # dictionary-sized
    topk = (
        c.groupBy("tok")
        .agg(F.sum("cnt").alias("g"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _BD_TOPK)
        .select("tok")
    )
    fq = scratch_cache(
        tot.crossJoin(F.broadcast(topk))
        .join(c, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            dround(
                F.lit(1e9) * F.coalesce("cnt", F.lit(0)) / F.col("t"), 0
            )
            .cast("long")
            .alias("f"),
        )
    )
    st = fq.groupBy("tok").agg(
        F.count("*").alias("n"),
        F.sum(F.col("f").cast(dec)).alias("s"),
        F.sum(F.col("f").cast(dec) * F.col("f")).alias("ssq"),
    )
    a = fq.select(F.col("source").alias("src_a"), "tok", F.col("f").alias("fa"))
    b = fq.select(F.col("source").alias("src_b"), F.col("tok").alias("tok_b"), F.col("f").alias("fb"))
    var = F.col("n").cast(dec) * F.col("ssq") - F.col("s") * F.col("s")
    zq = F.when(var == 0, F.lit(0).cast("long")).otherwise(
        dround(
            F.lit(1e6)
            * F.abs((F.col("n").cast(dec) * (F.col("fa") - F.col("fb"))).cast("double"))
            / F.sqrt(var.cast("double")),
            0,
        ).cast("long")
    )
    pairs = (
        a.join(b, (F.col("tok_b") == F.col("tok")) & (F.col("src_a") < F.col("src_b")))
        .join(F.broadcast(st), "tok")
        .select("src_a", "src_b", zq.alias("zq"))
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.sum("zq").alias("delta_units"), F.count("*").alias("n_tokens"))
        .orderBy(F.col("delta_units").asc(), "src_a", "src_b")
        .limit(_BD_PAIRS)
    )


# --------------------------------------------------------------------------
# BPE merge application (tokenizer inference half)
# --------------------------------------------------------------------------

_BPE_TOPSYM = 10

_BPE_SQL = f"""
    WITH toks AS MATERIALIZED (
      SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    spaced AS MATERIALIZED (
      SELECT array_to_string(regexp_extract_all(tok, '(.)', 1), ' ') AS s
      FROM toks WHERE tok != ''
    ),
    prs AS (
      SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 1),
                                   i -> cs[i] || ' ' || cs[i + 1])) AS pr
      FROM (SELECT string_split(s, ' ') AS cs FROM spaced)
      WHERE LEN(cs) >= 2
    ),
    merges AS MATERIALIZED (
      SELECT pr, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pr) AS rn
      FROM prs GROUP BY pr
    ),
    m AS (
      SELECT (SELECT pr FROM merges WHERE rn = 1) AS p1,
             (SELECT pr FROM merges WHERE rn = 2) AS p2
    ),
    applied AS (
      SELECT replace(replace(sp.s, m.p1, replace(m.p1, ' ', '')),
                     m.p2, replace(m.p2, ' ', '')) AS s
      FROM spaced sp, m
    ),
    sym AS (SELECT UNNEST(string_split(s, ' ')) AS symbol FROM applied)
    SELECT symbol, COUNT(*) AS cnt FROM sym
    GROUP BY symbol ORDER BY cnt DESC, symbol LIMIT {_BPE_TOPSYM}
"""


@register("text_bpe_apply", sql=_BPE_SQL)
def text_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """BPE merge APPLICATION — the tokenizer-inference half next to
    pipeline_bpe_pair_counts (which counts candidate merges): learn the
    top-2 merges from the corpus' initial character-pair statistics,
    apply them to every token (leftmost-non-overlapping string
    replacement, identical in both engines), and report the resulting
    top-{_BPE_TOPSYM} symbol vocabulary with counts. Simplification
    disclosed: both merges come from the INITIAL pair statistics (true
    BPE recounts between merges; one recount round would repeat the
    same plan shape).

    Plan: pair counting is the shifted-slice explode (partial-agg);
    the learned 2-row merge table broadcasts back as scalar columns —
    tokenization at 100 TB is embarrassingly parallel string work per
    row with a dictionary-sized broadcast, exactly how a production
    tokenizer ships its merges to executors."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    spaced = scratch_cache(
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select(
            F.array_join(F.expr("regexp_extract_all(tok, '(.)', 1)"), " ").alias("s")
        )
    )
    cs = F.split("s", " ")
    prs = (
        spaced.select(cs.alias("cs"))
        .filter(F.size("cs") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("cs", 1, F.size("cs") - 1),
                    F.slice("cs", 2, F.size("cs") - 1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("pr")
        )
    )
    w_m = Window.orderBy(F.col("cnt").desc(), "pr")  # dictionary-sized
    merges = (
        prs.groupBy("pr")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_m))
        .filter(F.col("rn") <= 2)
    )
    m = merges.groupBy().pivot("rn", [1, 2]).agg(F.first("pr")).select(
        F.col("1").alias("p1"), F.col("2").alias("p2")
    )
    applied = spaced.crossJoin(F.broadcast(m)).select(
        F.expr(
            "replace(replace(s, p1, replace(p1, ' ', '')),"
            " p2, replace(p2, ' ', ''))"
        ).alias("s")
    )
    return (
        applied.select(F.explode(F.split("s", " ")).alias("symbol"))
        .groupBy("symbol")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "symbol")
        .limit(_BPE_TOPSYM)
    )


# --------------------------------------------------------------------------
# BPE vocabulary TRAINING (the learning half: iterative merge induction)
# --------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 5

#: one round of frequency-weighted pair statistics over a (s, freq)
#: spaced relation — shared between the oracle builder's per-round CTEs
#: so counting is defined ONCE.
_BPE_PAIRS_OVER = """
      SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 1),
                                   i -> cs[i] || ' ' || cs[i + 1])) AS pr,
             freq
      FROM (SELECT string_split(s, ' ') AS cs, freq FROM {src})
      WHERE LEN(cs) >= 2
"""


def _bpe_train_sql(rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    """N-round BPE training unrolled into chained CTEs over the
    DISTINCT-WORD table: each round recounts pair frequencies (weighted
    by word frequency) over the PREVIOUS round's merged forms — true
    BPE, unlike text_bpe_apply's disclosed both-merges-from-initial-
    stats simplification — takes the (count DESC, pair ASC) argmax, and
    rewrites the forms by non-overlapping left-to-right replacement
    (identical semantics in DuckDB and Spark `replace`)."""
    ctes = [
        """spaced0 AS MATERIALIZED (
      SELECT array_to_string(regexp_extract_all(tok, '(.)', 1), ' ') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok != ''
      GROUP BY 1
    )"""
    ]
    for r in range(1, rounds + 1):
        pairs = _BPE_PAIRS_OVER.format(src=f"spaced{r - 1}")
        ctes.append(
            f"""m{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS rnk, pr AS pair,
             CAST(SUM(freq) AS BIGINT) AS cnt,
             replace(pr, ' ', '') AS new_symbol
      FROM ({pairs})
      GROUP BY pr ORDER BY cnt DESC, pr LIMIT 1
    )"""
        )
        ctes.append(
            f"""spaced{r} AS MATERIALIZED (
      SELECT replace(s, (SELECT pair FROM m{r}),
                     (SELECT new_symbol FROM m{r})) AS s, freq
      FROM spaced{r - 1}
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, rounds + 1)
    )
    joined = ", ".join(ctes)
    return f"WITH {joined}\n    {union}"


@register("text_bpe_train", sql=_bpe_train_sql)
def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """BPE vocabulary TRAINING — the learning half that text_bpe_apply's
    docstring defers ("true BPE recounts between merges"): {R} merge
    rounds, each recounting adjacent-symbol pair frequencies over the
    CURRENT segmentation, taking the (count DESC, pair ASC) argmax, and
    rewriting before the next round — the Sennrich et al. 2016 / GPT-2
    induction loop. Returns the learned merge table (round, pair,
    count-at-selection, new symbol).

    Scale design: trains over the DISTINCT-WORD table with frequencies
    (the standard production optimization — pair counts are weighted by
    word frequency, so results are IDENTICAL to instance-level training
    while the loop touches vocabulary-sized data): the 100 TB corpus is
    read ONCE for the word-frequency build (one corpus shuffle, partial
    map-side combine), and every subsequent round runs over the word
    table — dictionary-sized at any corpus scale. The per-round loop
    state is ONE row (the k-means precedent, SURVEY §2 A18): the argmax
    is a partial-aggregated count + global top-1 (TakeOrdered, never a
    full sort) collected driver-side and re-broadcast as a one-row
    merge relation. Merge application is non-overlapping left-to-right
    string replacement — identical in both engines; boundary-blind like
    text_bpe_apply (disclosed: the merged pair is matched as a raw
    substring of the spaced form, deterministic and engine-identical).
    Rounds are a fixed constant so the unrolled oracle and the loop
    agree on depth; every contract SF has >= {R} distinct pairs
    (asserted — an exhausted corpus would NULL the oracle's scalar
    subquery rewrite)."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(T(spark, sf, "documents"), scan_units(sf, "documents"))
    cur = scratch_cache(
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(
            F.array_join(F.expr("regexp_extract_all(tok, '(.)', 1)"), " ").alias("s")
        )
        .agg(F.count("*").alias("freq"))
    )
    learned: list[tuple[int, str, int, str]] = []
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        cs = F.split("s", " ")
        top = (
            cur.select(cs.alias("cs"), "freq")
            .filter(F.size("cs") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice("cs", 1, F.size("cs") - 1),
                        F.slice("cs", 2, F.size("cs") - 1),
                        lambda x, y: F.concat(x, F.lit(" "), y),
                    )
                ).alias("pr"),
                "freq",
            )
            .groupBy("pr")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pr")
            .limit(1)
            .first()
        )
        if top is None:  # explicit raise: assert strips under python -O
            raise ValueError(f"BPE corpus exhausted before round {r}")
        new_symbol = top["pr"].replace(" ", "")
        learned.append((r, top["pr"], top["cnt"], new_symbol))
        merge = tiny_df(
            spark, [(top["pr"], new_symbol)], "mp STRING, ms STRING"
        )
        cur = scratch_cache(
            cur.crossJoin(F.broadcast(merge)).select(
                F.expr("replace(s, mp, ms)").alias("s"), "freq"
            )
        )
    return tiny_df(
        spark, learned, "rnk BIGINT, pair STRING, cnt BIGINT, new_symbol STRING"
    )


text_bpe_train.__doc__ = text_bpe_train.__doc__.format(R=_BPE_TRAIN_ROUNDS)
