"""Self-test of the benchmark's outside-in tracer.

    python3 -m pytest perfbench/test_tracing.py -q

Runs one known key (``agg_groupby_q1``, a scan + shuffle aggregate)
under the tracer and checks that the status-store reader attributes its
Spark jobs, stages and tasks to it: a counter that silently reads 0
would make every per-layer ``spark.*`` figure meaningless.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import loop  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

KEY = "agg_groupby_q1"


def test_spark_counters_attribute_jobs_stages_and_tasks(tmp_path):
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{run.driver_mem_mb()}m")
    import engine.session as session

    sf_dir = os.path.join(os.path.dirname(session.oracle_sf()), "sf0.001")
    tracer = tracing.Tracer(str(tmp_path))
    tracer.session.install(session)
    from engine.registry import all_queries

    spark = session.get_spark("perfbench-selftest")
    try:
        query = all_queries()[KEY]
        loop.materialize(query(spark, sf_dir))  # cold run, not traced
        tracer.attach(spark)
        tracer.begin_timed()
        tracer.begin_pass()
        latency = tracer.run_key(
            KEY, lambda: query(spark, sf_dir), loop.materialize
        )
        tracer.end_pass()
        m = {k: v for k, (v, _) in tracer.metrics().items()}
    finally:
        spark.stop()

    assert latency > 0
    assert m["spark.jobs"] > 0
    assert m["spark.stages"] > 0
    assert m["spark.tasks"] >= m["spark.stages"]
    assert m["spark.exchanges"] > 0
    assert m["session.calls"] > 0
    assert 0 <= m["spark.gap_s"] <= latency
    assert m["streaming.batches"] == 0

