"""Bench harness contract guards (r14: VERDICT r13 tasks 1/7/10).

No SparkSession needed — these pin the driver-facing JSON contract and
the cold-generation wipe helper without running a sweep.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_emit_line_is_single_parseable_line():
    payload = {
        "metric": "sum_of_per_query_min_wall_clock",
        "value": 1.23,
        "unit": "sec",
        "queries": {"a_key": 0.5, "b_key": 0.73},
        "queries_warm": {"a_key": 0.1},
        "requeued": ["b_key"],
        "note": "multi word string with unicode é and 'quotes'",
        # a failed key's timing: strict JSON has no NaN/inf token
        "queries_nonfinite": {"nan_key": float("nan"), "inf_key": float("inf")},
        "canary": [1.0, float("-inf")],
    }
    payload["queries"]["failed_key"] = float("nan")
    line = bench.emit_line(payload)
    assert "\n" not in line and "\r" not in line
    parsed = json.loads(line, parse_constant=lambda c: pytest.fail(c))
    assert parsed["queries"] == {"a_key": 0.5, "b_key": 0.73, "failed_key": None}
    assert parsed["queries_nonfinite"] == {"nan_key": None, "inf_key": None}
    assert parsed["canary"] == [1.0, None]
    assert parsed["value"] == 1.23


def test_floors_file_covers_registry():
    """The outlier-requeue floors must exist for every registered key
    (a missing floor silently exempts that key from storm detection)."""
    from engine.registry import all_queries

    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "bench_floors.json")
    ) as fh:
        floors = json.load(fh)
    missing = sorted(set(all_queries()) - set(floors))
    assert not missing, f"keys without a bench floor: {missing[:10]}"
    assert all(v > 0 for v in floors.values())


def test_wipe_ann_generations_removes_derived_roots(tmp_path, monkeypatch):
    """The bench's cold-generation wipe must remove the _g1/_g2 derived
    roots and ONLY them — the base artifact root stays (it is the
    disclosed, oracle-load-bearing fixture class)."""
    import engine.similarity as sim

    base = tmp_path / "ivfpqr_test_root"
    for suffix in ("", "_g1", "_g2"):
        d = tmp_path / (base.name + suffix)
        d.mkdir()
        (d / "marker").write_text("x")
    monkeypatch.setattr(sim, "_pq_artifact_root", lambda sf: str(base))
    bench._wipe_ann_generations("/root/testdata/sf0.001")
    assert base.is_dir()  # base artifact untouched
    assert not (tmp_path / (base.name + "_g1")).exists()
    assert not (tmp_path / (base.name + "_g2")).exists()


def test_cold_generation_keys_are_registered():
    from engine.registry import all_queries

    q = all_queries()
    for key in bench._COLD_GEN_KEYS:
        assert key in q
