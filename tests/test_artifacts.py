"""The scratch-artifact primitive (engine.session.artifact_path /
artifact): reuse, crash safety, race loss, identity — and the invariant
that no engine module hand-rolls its own memo marker or publish."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from engine.session import ARTIFACT_MARKER, artifact

from .conftest import SF_SMOKE


class CountingBuild:
    """A build callable that writes one file and counts its calls."""

    def __init__(self, payload: str = "built"):
        self.calls = 0
        self.payload = payload

    def __call__(self, tmp: str) -> None:
        self.calls += 1
        pathlib.Path(tmp, "data.txt").write_text(self.payload)


def test_warm_call_does_not_build(tmp_path):
    path = str(tmp_path / "a")
    build = CountingBuild()
    assert artifact(path, build) == path
    assert artifact(path, build) == path
    assert build.calls == 1
    assert pathlib.Path(path, "data.txt").read_text() == "built"
    assert pathlib.Path(path, ARTIFACT_MARKER).read_text() == ""


def test_build_that_raises_publishes_nothing_and_next_call_rebuilds(tmp_path):
    path = str(tmp_path / "a")

    def crash(tmp: str) -> None:
        pathlib.Path(tmp, "partial.txt").write_text("half")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError):
        artifact(path, crash)
    assert not os.path.exists(path)
    assert not os.path.exists(f"{path}.tmp.{os.getpid()}")
    build = CountingBuild()
    artifact(path, build)
    assert build.calls == 1
    assert sorted(os.listdir(path)) == sorted([ARTIFACT_MARKER, "data.txt"])


def test_leftover_temp_dir_is_never_adopted(tmp_path):
    path = str(tmp_path / "a")
    junk = pathlib.Path(f"{path}.tmp.999999")
    junk.mkdir()
    (junk / ARTIFACT_MARKER).write_text("")
    (junk / "data.txt").write_text("partial build")
    build = CountingBuild()
    artifact(path, build)
    assert build.calls == 1
    assert pathlib.Path(path, "data.txt").read_text() == "built"
    assert (junk / "data.txt").read_text() == "partial build"


def test_ident_mismatch_rebuilds(tmp_path):
    path = str(tmp_path / "a")
    artifact(path, CountingBuild("v1"), ident="cells=[1]")
    build = CountingBuild("v2")
    artifact(path, build, ident="cells=[1]")
    assert build.calls == 0
    artifact(path, build, ident="cells=[2]")
    assert build.calls == 1
    assert pathlib.Path(path, "data.txt").read_text() == "v2"
    assert pathlib.Path(path, ARTIFACT_MARKER).read_text() == "cells=[2]"


def test_lost_publish_race_keeps_winner_and_drops_own_temp(tmp_path):
    path = str(tmp_path / "a")

    def build_while_other_process_publishes(tmp: str) -> None:
        pathlib.Path(tmp, "data.txt").write_text("loser")
        winner = pathlib.Path(path)
        winner.mkdir()
        (winner / "data.txt").write_text("winner")
        (winner / ARTIFACT_MARKER).write_text("")

    assert artifact(path, build_while_other_process_publishes) == path
    assert pathlib.Path(path, "data.txt").read_text() == "winner"
    assert not os.path.exists(f"{path}.tmp.{os.getpid()}")


def test_hash_mode_separates_pq_codes_roots(spark, monkeypatch):
    """The PQ codebook is picked by hash60, whose family follows
    SPARK_GRAFT_FAST_HASH: a root built in one mode must never be served
    to the other."""
    from engine.similarity import _pq_artifact_root, materialize_pq_codes

    monkeypatch.setenv("SPARK_GRAFT_FAST_HASH", "1")
    fast = materialize_pq_codes(spark, SF_SMOKE)
    fast_root = _pq_artifact_root(SF_SMOKE)
    monkeypatch.delenv("SPARK_GRAFT_FAST_HASH")
    portable = materialize_pq_codes(spark, SF_SMOKE)
    assert fast != portable
    assert fast_root != _pq_artifact_root(SF_SMOKE)
    assert os.path.isdir(fast) and os.path.isdir(portable)


def test_warm_means_artifact_runs_no_spark_job(spark, monkeypatch, tmp_path):
    """A fresh process finds the k-means centroids published but its fit
    cache empty: materialize_means must read the K rows off disk without
    a Spark job and return the fitted means exactly."""
    import engine.kmeans as K

    monkeypatch.setattr(K, "_means_path", lambda sf: str(tmp_path / "means"))
    _assigned, fitted, _it = K.run_kmeans(spark, SF_SMOKE)
    K.materialize_means(spark, SF_SMOKE)  # publishes from the fit cache
    monkeypatch.setattr(K, "_MEANS_CACHE", {})
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs0 = dag.nextJobId()
    _path, means = K.materialize_means(spark, SF_SMOKE)
    assert dag.nextJobId() - jobs0 == 0
    assert means == fitted


def test_gapped_codebook_raises():
    from engine.similarity import _PQ_S, _check_codebook

    k = 4
    _check_codebook([(s, c) for s in range(_PQ_S) for c in range(k)])
    gapped = [(s, c) for s in range(_PQ_S) for c in range(k) if (s, c) != (3, 1)]
    with pytest.raises(ValueError):
        _check_codebook(gapped)
    with pytest.raises(ValueError):
        _check_codebook([(s, c) for s in range(_PQ_S - 1) for c in range(k)])


#: (module, top-level definition) allowed to spell a memo marker or a
#: rename publish: the primitive itself, the Python data source's own
#: task-commit protocol, and the bucketed catalog tables (whose session
#: catalog entry is re-registered over files that outlive the session)
_MARKER_ALLOWED = {
    ("session", "artifact"),
    ("tableo", "_DetSinkSource"),
    ("tableo", "_DetSinkWriter"),
    ("tableo", "sink_python_datasource"),
    ("relational", "join_bucketed_colocated"),
}
_MARKER_TOKENS = ("_SUCCESS", "_READY", "_DONE", "os.rename(")


def test_no_hand_rolled_artifact_markers_in_engine():
    """Every memoized scratch artifact goes through
    engine.session.artifact; a new marker file or rename publish
    elsewhere would bring back a second freshness rule."""
    engine = pathlib.Path(__file__).resolve().parent.parent / "engine"
    bad = []
    for f in sorted(engine.glob("*.py")):
        src = f.read_text()
        lines = src.splitlines()
        owner = {}
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node.name
        for ln, text in enumerate(lines, 1):
            if any(t in text for t in _MARKER_TOKENS):
                if (f.stem, owner.get(ln)) not in _MARKER_ALLOWED:
                    bad.append(f"{f.name}:{ln} {text.strip()}")
    assert not bad, bad
