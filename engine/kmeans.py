"""so_kmeans / so_cluster_stats — port of the stackoverflow assignment's
k-means (SURVEY.md §2 Table C; canonical handout
stackoverflow/src/main/scala/stackoverflow/StackOverflow.scala:
`kmeans`/`findClosest`/`averageVectors`/`euclideanDistance` ~L140-170,
`clusterResults`/`printResults` ~L200-225 — checkout empty at build
time, SURVEY.md §0).

Reference constants kept: eta = 20.0, maxIterations = 120 [H]. k = 10
(labels 0..9 per FIXTURES.md B4; the reference used 45 kernels over 15
langs — `kmeansKernels/langs.length = 3` per lang; ours is 1 per label,
the same `sampleVectors` per-group-init logic).

Canonical iterative-Spark pattern (SURVEY.md §3.2): the per-iteration
driver round-trip collects only the k×dim means (tiny); the data-sized
work — assignment + per-cluster averaging — stays distributed. Means
enter the plan as literals (the broadcast-in-closure of the reference).
At 100 TB: input cached once, one narrow map + one partial-aggregated
shuffle per iteration; nothing driver-sized grows with the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.canon import dround
from engine.registry import register
from engine.session import (
    T,
    artifact,
    artifact_path,
    data_fingerprint,
    oracle_sf,
    scratch_cache,
    tiny_df,
)

K = 10
ETA = 20.0  # StackOverflow.scala `kmeansEta` [H]
MAX_ITER = 120  # StackOverflow.scala `kmeansMaxIterations` [H]

#: final means memo per sf_dir — so_kmeans and so_cluster_stats share one run
_MEANS_CACHE: dict[str, tuple[list[list[float]], int]] = {}


def _sqdist_to(centroid: list[float]) -> Column:
    """Squared euclidean distance from the embedding column to a literal
    centroid (`euclideanDistance` [H]) — native expressions, no UDF."""
    lit_c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with("embedding", lit_c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(df: DataFrame, means: list[list[float]]) -> DataFrame:
    """`findClosest` [H]: index of the nearest mean; ties → lowest
    cluster id (array_position returns the first minimum)."""
    dists = F.array(*[_sqdist_to(m) for m in means])
    return df.withColumn(
        "cluster",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def _initial_means(emb: DataFrame) -> list[list[float]]:
    """Deterministic per-label init (the `sampleVectors` per-lang sample
    [H], made seedless-deterministic): lowest vec_id of each label."""
    w = Window.partitionBy("label").orderBy("vec_id")
    rows = (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", "embedding")
        .collect()
    )
    by_label = {r["label"]: list(r["embedding"]) for r in rows}
    return [by_label[lbl] for lbl in sorted(by_label)]


def kmeans_fit(
    emb: DataFrame, eta: float = ETA, max_iter: int = MAX_ITER
) -> tuple[list[list[float]], int]:
    """Lloyd's loop (`kmeans` [H], tail recursion → driver while-loop)
    over any (vec_id, embedding, label) DataFrame. Returns final means
    and the iteration count."""
    means = _initial_means(emb)
    dim = len(means[0])
    it = 0
    # `averageVectors` [H] as ONE hash aggregate with `dim` column sums:
    # at 1B×64 input, exploding to (row × dim) before the shuffle would
    # move 64× the data; per-dimension F.sum aggregates keep the shuffle
    # at k rows × dim columns with map-side partial aggregation.
    avg_aggs = [
        F.avg(F.element_at("embedding", i + 1)).alias(f"m{i}") for i in range(dim)
    ]
    while it < max_iter:
        it += 1
        assigned = _assign(emb, means)
        rows = assigned.groupBy("cluster").agg(*avg_aggs).collect()
        new_means = [list(m) for m in means]  # empty cluster keeps its mean
        for r in rows:
            new_means[r["cluster"]] = [r[f"m{i}"] for i in range(dim)]
        shift = sum(
            (a - b) ** 2 for old, new in zip(means, new_means) for a, b in zip(old, new)
        )
        means = new_means
        if shift < eta:  # `euclideanDistance(oldMeans, newMeans) < kmeansEta` [H]
            break
    return means, it


def run_kmeans(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, list[list[float]], int]:
    """Fit (memoized per sf_dir) + assign over the embeddings table."""
    # tracked cache (freed before the next query) — the iterative fit
    # scans emb once per round, and the returned assignment re-reads it
    emb = scratch_cache(T(spark, sf, "embeddings"))
    memo = (sf, data_fingerprint(sf, "embeddings"))
    if memo not in _MEANS_CACHE:
        _MEANS_CACHE[memo] = kmeans_fit(emb)
    means, it = _MEANS_CACHE[memo]
    return _assign(emb, means).select("vec_id", "label", "cluster"), means, it


def _assign_path(sf: str) -> str:
    """Per-scale-factor assignment artifact (:func:`engine.session.
    artifact_path`): oracles resolve it for :func:`oracle_sf`, and the
    Spark query must run before the oracle in the same filesystem (it
    writes the parquet the oracle reads)."""
    return artifact_path("kmeans", sf, ("embeddings",), "assignments")


def materialize_assignments(spark: SparkSession, sf: str) -> str:
    """Write the converged (vec_id, label, cluster, iterations)
    assignment to parquet and return the path. Shared by every oracled
    query that blocks or aggregates on k-means cells: BOTH engines read
    this one file, so the oracle checks the downstream logic exactly
    even though the iterative fit itself is rows-only. The constant
    `iterations` column persists the convergence metadata with the
    model output (the standard model-card practice), which is what lets
    `so_kmeans` expose it under a full oracle. Built once per input
    (:func:`engine.session.artifact`)."""

    def build(tmp: str) -> None:
        assigned, _means, it = run_kmeans(spark, sf)
        assigned.withColumn("iterations", F.lit(it)).write.mode(
            "overwrite"
        ).parquet(tmp)

    return artifact(_assign_path(sf), build)


def _means_path(sf: str) -> str:
    return artifact_path("kmeans", sf, ("embeddings",), "means")


def materialize_means(spark: SparkSession, sf: str) -> tuple[str, list[list[float]]]:
    """Persist the converged centroids (cluster, mean DOUBLE[]) — the
    model itself, alongside the assignments. An IVF probe needs the
    centroid list to pick cells; materializing it lets the oracle run
    the identical probe in SQL (read means → rank cells per query →
    scan probed cells), value-checking the whole ANN path. The means
    come from the fit cache when it holds them, else from the K rows of
    the published artifact, read with pyarrow so a fresh process runs no
    Spark job for them (parquet round-trips doubles exactly; pyarrow
    skips the ``_``-prefixed marker)."""
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        _assigned, means, _it = run_kmeans(spark, sf)
        tiny_df(
            spark,
            [(i, m) for i, m in enumerate(means)],
            "cluster int, mean array<double>",
        ).write.mode("overwrite").parquet(tmp)

    path = artifact(_means_path(sf), build)
    memo = (sf, data_fingerprint(sf, "embeddings"))
    if memo in _MEANS_CACHE:
        return path, _MEANS_CACHE[memo][0]
    rows = pq.read_table(path).sort_by("cluster")  # K rows — the model
    return path, rows.column("mean").to_pylist()


def _so_kmeans_sql() -> str:
    return f"""
    SELECT cluster, COUNT(*) AS size,
           COUNT(DISTINCT label) AS n_labels,
           MAX(iterations) AS iterations
    FROM read_parquet('{_assign_path(oracle_sf())}/*.parquet')
    GROUP BY cluster ORDER BY cluster
    """


@register("so_kmeans", sql=_so_kmeans_sql)
def so_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster summary after convergence: size per cluster plus the
    iteration count (constant column — observability of convergence).

    The Lloyd's fixpoint itself is iterative (not SQL-expressible), but
    its RESULT is a materialized relation — so the summary reads the
    assignment parquet both engines share (the so_cluster_stats
    contract: the Spark query writes it, the oracle re-reads it) and
    the downstream aggregate is fully value-checked."""
    path = materialize_assignments(spark, sf)
    a = spark.read.parquet(path)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("size"),
            F.count_distinct("label").alias("n_labels"),
            F.max("iterations").alias("iterations"),
        )
        .orderBy("cluster")
    )


def _so_cluster_stats_sql() -> str:
    return f"""
    WITH a AS (SELECT * FROM read_parquet('{_assign_path(oracle_sf())}/*.parquet')),
    sizes AS (
      SELECT cluster, COUNT(*) AS size,
             ROUND(MEDIAN(vec_id) * 100) / 100 AS med_vec
      FROM a GROUP BY cluster
    ),
    dom AS (
      SELECT cluster, label AS dom_label, cnt,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY cnt DESC, label ASC) AS rn
      FROM (SELECT cluster, label, COUNT(*) AS cnt FROM a GROUP BY cluster, label)
    )
    SELECT s.cluster, d.dom_label,
           ROUND(100.0 * d.cnt / s.size * 10) / 10 AS dom_pct,
           s.size, s.med_vec
    FROM sizes s JOIN dom d ON s.cluster = d.cluster AND d.rn = 1
    """


@register("so_cluster_stats", sql=_so_cluster_stats_sql)
def so_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """`clusterResults` [H]: per final cluster — dominant label (mode,
    deterministic tie-break), dominant %, size, exact median (computed
    from the shared materialized assignment, see
    :func:`materialize_assignments`)."""
    a = spark.read.parquet(materialize_assignments(spark, sf))

    sizes = a.groupBy("cluster").agg(
        F.count("*").alias("size"),
        dround(F.median("vec_id"), 2).alias("med_vec"),
    )
    w = Window.partitionBy("cluster").orderBy(F.col("cnt").desc(), F.col("label").asc())
    dom = (
        a.groupBy("cluster", "label")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("dom_label"), "cnt")
    )
    return sizes.join(dom, "cluster").select(
        "cluster",
        "dom_label",
        dround(100.0 * F.col("cnt") / F.col("size"), 1).alias("dom_pct"),
        "size",
        "med_vec",
    )


def _ml_assign_path(sf: str) -> str:
    return artifact_path("kmeans", sf, ("embeddings",), "ml_assignments")


def materialize_ml_assignments(spark: SparkSession, sf: str) -> str:
    """Fit the library model (pyspark.ml KMeans, seeded) and persist its
    (vec_id, label, cluster) assignment — the materialize_assignments
    contract applied to the library fit (VERDICT r6 task 7: this was
    the repo's only permanently-unverifiable key). The fit itself stays
    rows-only by nature (library RNG, no SQL twin), but its RESULT is a
    relation both engines share, so every downstream aggregate gets a
    full value oracle exactly like `so_kmeans`."""
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.functions import array_to_vector

    def build(tmp: str) -> None:
        emb = T(spark, sf, "embeddings").select(
            "vec_id",
            "label",
            array_to_vector(F.col("embedding").cast("array<double>")).alias(
                "features"
            ),
        )
        model = MLKMeans(k=K, seed=42, maxIter=MAX_ITER, tol=1e-4).fit(emb)
        model.transform(emb).select(
            "vec_id", "label", F.col("prediction").cast("int").alias("cluster")
        ).write.mode("overwrite").parquet(tmp)

    return artifact(_ml_assign_path(sf), build)


def _so_kmeans_ml_sql() -> str:
    return f"""
    SELECT cluster, COUNT(*) AS size,
           COUNT(DISTINCT label) AS n_labels
    FROM read_parquet('{_ml_assign_path(oracle_sf())}/*.parquet')
    GROUP BY cluster ORDER BY cluster
    """


@register("so_kmeans_ml", sql=_so_kmeans_ml_sql)
def so_kmeans_ml(spark: SparkSession, sf: str) -> DataFrame:
    """The library counterpart of so_kmeans (SURVEY.md §2 A18: both the
    semantics-faithful manual loop AND pyspark.ml.clustering.KMeans):
    same k, seeded init, summarized to the same schema shape. The manual
    loop is the declared reference port; this one is what you'd actually
    deploy (DataFrame-native, tree-aggregated updates). Oracled via the
    materialized-assignment contract: the Spark query writes the
    library model's assignment parquet, both engines aggregate it."""
    path = materialize_ml_assignments(spark, sf)
    a = spark.read.parquet(path)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("size"),
            F.count_distinct("label").alias("n_labels"),
        )
        .orderBy("cluster")
    )
