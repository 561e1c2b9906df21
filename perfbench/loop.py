"""One benchmark run: a closed loop over one workload's registry keys.

Started by ``run.py`` in a fresh process and environment. One driver
thread runs each key as ``queries[key](spark, sf)`` followed by
bench.py's noop-sink write, with zero think time. Phases:

1. set-up (``setup_s``, from process spawn): session start, one check
   pass that compares every key's row count and value digest with
   ``expected.json`` (this pass also pays the cold artifact builds), one
   untimed run of the host canary, WARM_PASSES warm passes, the host
   canary;
2. timed passes filling ``--seconds`` at the workload's nominal pass
   time (at least two), the key order reshuffled from ``--seed`` in
   every pass;
3. the host canary again.

With ``--trace 1`` the timed passes alternate untraced and traced, half
of each; the traced ones give the per-layer metrics and the difference
of the two medians is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

#: warm passes after the check pass, inside ``setup_s``
WARM_PASSES = 1
#: ``query_tail_s`` is this nearest-rank percentile of the samples
TAIL_PERCENTILE = 75


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def materialize(df) -> None:
    """bench.py's sink: full execution, nothing collected."""
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, str]:
    """Row count and order-insensitive value digest of a result.

    Columns are taken in name order; floating values are compared at 6
    significant digits, everything else by its string form. The digest
    is the exact decimal sum of one xxhash64 per row."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    names = df.columns
    fields = df.schema.fields
    pos = df.toDF(*[f"c{i}" for i in range(len(names))])
    canon = [F.lit(",".join(sorted(names)))]
    for i in sorted(range(len(names)), key=lambda i: names[i]):
        c = F.col(f"c{i}")
        if isinstance(fields[i].dataType, (DoubleType, FloatType)):
            c = F.when(F.isnan(c), F.lit("nan")).otherwise(
                F.format_string("%.5e", c)
            )
        else:
            c = c.cast("string")
        canon.append(F.coalesce(c, F.lit("\u0000")))
    row = pos.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*canon).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def record_of(got: tuple[int, str]) -> dict:
    return {"rows": got[0], "digest": got[1]}


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def host_ticks() -> list[int]:
    """Host-wide CPU tick counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU ticks between two readings that the
    hypervisor gave to other guests (the ``steal`` column)."""
    return (t1[7] - t0[7]) / max(1, sum(t1) - sum(t0))


def canary(spark) -> float:
    """A fixed Spark-only job that touches no engine code."""
    t = time.perf_counter()
    spark.range(0, 1_000_000, 1, 4).selectExpr(
        "sum(hash(id) % 1000) AS s"
    ).collect()
    return time.perf_counter() - t


class Loop:
    def __init__(self, spark, queries, sf_dir, keys, rng, tracer):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.keys = keys
        self.rng = rng
        self.tracer = tracer
        self.attempted = 0
        self.failures = 0
        #: first failure per key, for the report
        self.failed: dict[str, str] = {}
        #: seconds per key of the check pass (cold calls)
        self.check_s: dict[str, float] = {}

    def fail(self, key: str, why: str) -> None:
        self.failures += 1
        self.failed.setdefault(key, why)

    def order(self) -> list[str]:
        keys = list(self.keys)
        self.rng.shuffle(keys)
        return keys

    def check_pass(self, expected: dict, record: dict | None) -> None:
        """Once per run, outside the timed passes: every key's output
        against the committed expectation."""
        for key in self.order():
            self.attempted += 1
            t = time.perf_counter()
            try:
                got = digest(self.queries[key](self.spark, self.sf_dir))
                self.check_s[key] = round(time.perf_counter() - t, 3)
            except Exception:
                self.fail(key, traceback.format_exc(limit=3))
                continue
            finally:
                self.spark.catalog.clearCache()
            if record is not None:
                record[key] = record_of(got)
            elif record_of(got) != expected.get(key):
                self.fail(key, f"output {got} != expected {expected.get(key)}")

    def run_pass(self, traced: bool) -> tuple[float, dict[str, float]]:
        """One pass over the keys in a fresh order: (wall, latency per
        key that did not fail). Latency = build call + materialize."""
        lat = {}
        t_pass = time.perf_counter()
        if traced:
            self.tracer.begin_pass()
        for key in self.order():
            self.attempted += 1
            try:
                if traced:
                    lat[key] = self.tracer.run_key(key, self._build(key), materialize)
                else:
                    t = time.perf_counter()
                    materialize(self.queries[key](self.spark, self.sf_dir))
                    lat[key] = time.perf_counter() - t
            except Exception:
                self.fail(key, traceback.format_exc(limit=3))
            finally:
                self.spark.catalog.clearCache()
        wall = time.perf_counter() - t_pass
        if traced:
            self.tracer.end_pass()
        return wall, lat

    def _build(self, key: str):
        return lambda: self.queries[key](self.spark, self.sf_dir)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--tree", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    spec = load_json("workloads.json")
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import engine.session as session

    # the read-only testdata scale directory next to the engine's own
    # correctness fixture
    sf_dir = os.path.join(os.path.dirname(session.oracle_sf()), spec["sf"])

    tracer = tracing.Tracer(args.tree) if args.trace else None
    if tracer:
        # before the registry imports the query modules, so their
        # ``from engine.session import ...`` bind the wrappers
        tracer.session.install(session)
    from engine.registry import all_queries

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    missing = [k for k in wl["keys"] if k not in queries]
    if missing:
        print(f"perfbench: keys not registered: {missing}", file=sys.stderr)
        return 2
    if tracer:
        tracer.attach(spark)

    loop = Loop(
        spark, queries, sf_dir, wl["keys"], random.Random(args.seed), tracer
    )
    session_s = time.time() - args.spawn_time
    t_check = time.perf_counter()

    expected_all = load_json("expected.json")
    if not args.record and expected_all.get("sf") != spec["sf"]:
        print("perfbench: expected.json was recorded for another scale",
              file=sys.stderr)
        return 2
    record = {} if args.record else None
    loop.check_pass(expected_all["keys"], record)
    if record is not None:
        if loop.failed:
            print(json.dumps(loop.failed, indent=1), file=sys.stderr)
            return 1
        expected_all["sf"] = spec["sf"]
        expected_all["keys"].update(record)
        expected_all["keys"] = dict(sorted(expected_all["keys"].items()))
        with open(os.path.join(HERE, "expected.json"), "w") as fh:
            json.dump(expected_all, fh, indent=1)
            fh.write("\n")
        print(json.dumps({"recorded": sorted(record)}))
        return 0

    check_s = time.perf_counter() - t_check
    # the canary's own first run pays its codegen and JIT; the timed
    # readings come after it, so they read the host
    canary(spark)
    warm = [loop.run_pass(traced=False)[0] for _ in range(WARM_PASSES)]
    canary_start = canary(spark)
    setup_s = time.time() - args.spawn_time

    # a fixed number of passes that fills --seconds at the workload's
    # nominal pass time: every run does the same work, so a slow run is
    # not also measured at an earlier point of JIT warm-up
    n_timed = max(2, round(args.seconds / wl["nominal_pass_s"]))
    if tracer:
        # as many untraced as traced passes, about as many in all as an
        # untraced run makes, so a traced run takes about as long
        n_timed = max(2, math.ceil(n_timed / 2))
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    kept: list[float] = []
    traced_passes: list[float] = []
    samples: list[float] = []
    by_key: dict[str, list[float]] = {}
    timed_log = []
    if tracer:
        tracer.begin_timed()
    while len(kept) < n_timed or (tracer and len(traced_passes) < n_timed):
        traced = bool(tracer) and len(traced_passes) < len(kept)
        ticks, cpu = host_ticks(), tracing.proc_cpu(jvm_pid)[0]
        wall, lat = loop.run_pass(traced)
        timed_log.append({
            "wall_s": round(wall, 3),
            "steal": round(steal_share(ticks, host_ticks()), 4),
            "jvm_cpu_s": round(tracing.proc_cpu(jvm_pid)[0] - cpu, 2),
            "traced": traced,
        })
        if traced:
            traced_passes.append(wall)
        else:
            kept.append(wall)
            samples.extend(lat.values())
            for k, v in lat.items():
                by_key.setdefault(k, []).append(v)
    canary_end = canary(spark)

    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(kept), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (percentile(samples, TAIL_PERCENTILE), "s"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "session_s": round(session_s, 3),
        "check_pass_s": round(check_s, 3),
        "check_key_s": loop.check_s,
        "warm_passes_s": [round(w, 3) for w in warm],
        "timed_passes": timed_log,
        "key_p50_s": {k: round(statistics.median(v), 3)
                      for k, v in sorted(by_key.items())},
        "samples": len(samples),
        "tail_percentile": TAIL_PERCENTILE,
        "beyond_tail": sum(1 for s in samples if s > e2e["query_tail_s"][0]),
        "canary_s": [round(canary_start, 3), round(canary_end, 3)],
        "failed": loop.failed,
    }
    if tracer:
        metrics = tracer.metrics()
        metrics["host.canary_s"] = ((canary_start + canary_end) / 2, "s")
        metrics["trace.overhead_s"] = (
            statistics.median(traced_passes) - statistics.median(kept),
            "s",
        )
        path = tracer.dump(
            args.trace_dir, args.workload, args.seed, detail, e2e
        )
        detail["trace_file"] = path
    else:
        metrics = e2e
    print("perfbench-detail " + json.dumps(detail), file=sys.stderr)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if tracer else "end_to_end"]
    declared = {m["name"]: m["unit"] for m in declared}
    emitted = {k: u for k, (_, u) in metrics.items()}
    if declared != emitted:
        diff = sorted(set(declared.items()) ^ set(emitted.items()))
        print(f"perfbench: metrics {diff} differ from BENCHMARK.json",
              file=sys.stderr)
        return 1
    result = {
        "correct": not loop.failed,
        "attempted": loop.attempted,
        "failed": loop.failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip session and interpreter teardown: run.py kills the JVM's
    # process group and removes the run directory
    os._exit(code)
