"""End-to-end maintenance-loop demo on a drifted corpus (late r13).

tools/retrain_drift_ab.py measured the DECISION/REFIT arithmetic's
recall recovery with driver-side bookkeeping; this tool closes the
remaining gap: it drives the FOUR REGISTERED OPERATORS verbatim —
pipeline_ann_retrain_gate → pipeline_ann_retrain_apply →
pipeline_ann_reassign → pipeline_ann_reindex — over a synthetic SF
directory whose embeddings table carries deliberate drift while the
coarse quantizer is seeded STALE (fit on the pre-drift prefix, the
"frozen at index build" state), and then measures ANN recall SERVED
FROM THE PUBLISHED ARTIFACT BYTES:

  arm A (stale serving): probe the stale centroids, candidates and
        reconstructions from the BASE codes generation (stale
        membership, stale cell means);
  arm B (post-loop serving): probe the PUBLISHED retrained means
        (engine.streaming._retrained_means_path — what future ingest
        reads), candidates and reconstructions from the g2 generation
        the reindex published (re-fit cells, re-assigned membership,
        movers re-encoded).

Both arms run the same query plan shape as sim_cosine_topk_ivf_pq —
coarse probe, ADC-style scoring of reconstructed vectors (cell mean +
coded residual, read from the artifact rows), bounded exact refine of
the shortlist against raw vectors, top-k cut — implemented driver-side
in numpy over the COLLECTED artifact relations (measurement tooling:
the serving bytes come from the published generations; numpy is only
the reader). Recall is against the exact full-corpus top-{TOPK}.

Drift model (deterministic, no RNG — the retrain_drift_ab protocol):
the last quarter of vectors by vec_id gain +{OFFSET} on the first
{DIMS} dims, which aligns exactly with the final replay batch at
_AI_FILES=4, so the ingest funnel's recent-vs-baseline comparison sees
the drift and the +5% alert gate fires on real signal.

Usage: python tools/maintenance_loop_e2e.py [--src /root/testdata/sf0.01]
Prints one JSON line; the SCALE.md r13 table records the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 0.3
DIMS = 8
TOPK = 5
NQUERIES = 20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import numpy as np
    from pyspark.sql import functions as F

    import engine.similarity as SIM
    import engine.streaming as S
    from engine.kmeans import _MEANS_CACHE, kmeans_fit
    from engine.registry import all_queries
    from engine.session import T, data_fingerprint, get_spark, scratch_dir, sf_tag

    spark = get_spark("loop-e2e")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. synthetic SF dir: every table carried over, embeddings drifted
    sf = scratch_dir("loop_e2e") + f"/drift_{sf_tag(args.src)}"
    shutil.rmtree(sf, ignore_errors=True)
    os.makedirs(sf)
    for f in os.listdir(args.src):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.link(os.path.join(args.src, f), os.path.join(sf, f))
    emb0 = T(spark, args.src, "embeddings")
    n = emb0.count()
    cut = (n * 3) // 4  # = the last of the _AI_FILES=4 replay batches
    shift = F.expr(
        f"transform(cast(embedding as array<double>), (x, i) -> "
        f"x + if(i < {DIMS}, cast({OFFSET} as double), 0d))"
    )
    emb0.withColumn(
        "embedding",
        F.when(F.col("vec_id") >= cut, shift).otherwise(
            F.col("embedding").cast("array<double>")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/embeddings.parquet")

    # 2. seed the STALE quantizer: fit on the pre-drift prefix only,
    # planted in the kmeans memo so every operator/artifact derives
    # from it (run_kmeans/materialize_means read this cache first)
    emb = T(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    stale_means, it = kmeans_fit(emb.filter(F.col("vec_id") < cut))
    _MEANS_CACHE[(sf, data_fingerprint(sf, "embeddings"))] = (stale_means, it)

    # 3. the registered operator chain, verbatim
    Q = all_queries()
    gate = Q["pipeline_ann_retrain_gate"](spark, sf).collect()
    gate_flagged = sorted(r["cell"] for r in gate if r["retrain"])
    applied = Q["pipeline_ann_retrain_apply"](spark, sf).collect()
    refit = sorted(r["cell"] for r in applied if r["retrained"])
    movement = Q["pipeline_ann_reassign"](spark, sf).collect()
    n_moved = sum(r["n"] for r in movement if r["moved"])
    reindex = Q["pipeline_ann_reindex"](spark, sf).collect()
    rewritten = sorted(r["cell"] for r in reindex if r["rewritten"])

    # 4. recall served from the published artifact bytes
    base = SIM._pq_artifact_root(sf)
    g2 = base + "_g2"
    retrained_means_rows = spark.read.parquet(
        S._retrained_means_path(sf)
    ).collect()
    retrained_means = [
        list(r["mean"])
        for r in sorted(retrained_means_rows, key=lambda r: r["cell"])
    ]

    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.collect()
    )
    ids = [r[0] for r in rows]
    E = np.array([r[1] for r in rows])
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    idx_of = {v: i for i, v in enumerate(ids)}
    qpos = list(range(len(ids) - NQUERIES, len(ids)))  # drifted queries

    def load_generation(root: str):
        """(cell per corpus row, reconstructed en per corpus row)."""
        cm = {
            r["cell"]: np.array(r["cm"])
            for r in spark.read.parquet(root + "/cmeans").collect()
        }
        codes = spark.read.parquet(root + "/codes").collect()
        cell = np.full(len(ids), -1)
        rec = np.zeros_like(En)
        for r in codes:
            i = idx_of[r["vec_id"]]
            cell[i] = r["cell"]
            rec[i, r["s"] * SIM._PQ_D : (r["s"] + 1) * SIM._PQ_D] = r["csub"]
        for i in range(len(ids)):
            rec[i] += cm[int(cell[i])]
        return cell, rec

    def recall(means: list[list[float]], root: str) -> float:
        cell, rec = load_generation(root)
        M = np.array(means)
        hit = 0
        for qi in qpos:
            qn = En[qi]
            cos = En @ qn
            cos[qi] = -2
            exact = set(np.argsort(-cos)[:TOPK])
            cd = ((M - E[qi]) ** 2).sum(axis=1)
            probed = np.argsort(cd)[: SIM._IVF_PQ_NPROBE]
            cand = np.where(np.isin(cell, probed))[0]
            cand = cand[cand != qi]
            adc = rec[cand] @ qn  # ADC: q · (c' + r̂) from artifact rows
            short = cand[np.argsort(-adc)[: SIM._PQ_RERANK]]
            got = set(short[np.argsort(-cos[short])[:TOPK]])  # exact refine
            hit += len(exact & got)
        return round(hit / (NQUERIES * TOPK), 3)

    out = {
        "src": args.src,
        "n": int(n),
        "drifted": int(n - cut),
        "offset": OFFSET,
        "dims": DIMS,
        "gate_flagged(+5%)": gate_flagged,
        "apply_refit": refit,
        "reassign_moved": int(n_moved),
        "reindex_rewritten": rewritten,
        "nprobe": SIM._IVF_PQ_NPROBE,
        "shortlist": SIM._PQ_RERANK,
        "recall_stale_base": recall(stale_means, base),
        "recall_postloop_g2": recall(retrained_means, g2),
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
