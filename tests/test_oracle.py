"""Layer-1 pre-flight (SURVEY.md §5.2): every SQL-oracled key must
hash-match DuckDB at the driver's correctness scale factor, and every
rows-only key must at least execute and return a stable schema."""

from __future__ import annotations

import hashlib
import os
import pathlib

import pytest

from engine.registry import all_oracles, all_queries

from .conftest import SF_ORACLE
from .oracle_utils import compare

ORACLES = all_oracles()
QUERIES = all_queries()


def _tier(keys) -> list[str]:
    """Execution tier for the per-key sweeps (VERDICT r13 task 2: the
    full 385-key sweep grew the default suite past the driver's test
    budget — a gate that times out can hide a real failure).

    - SPARK_GRAFT_FULL_SUITE=1 → every key (the pre-r14 behaviour; run
      before shipping a round).
    - SPARK_GRAFT_ORACLE_KEYS=k1,k2 → exactly those keys (focused reruns
      while iterating on one operator).
    - default → a deterministic ~20% hash sample (stable across runs —
      md5 of the key name, no rotation), which keeps the oracle
      machinery and a representative spread of operators exercised on
      every default run. The driver's own VERIFY independently samples
      50 keys per round, and builder rounds run the full tier before
      shipping, so every key keeps full-sweep coverage per round."""
    only = os.environ.get("SPARK_GRAFT_ORACLE_KEYS")
    if only:
        chosen = set(only.split(","))
        return sorted(k for k in keys if k in chosen)
    if os.environ.get("SPARK_GRAFT_FULL_SUITE") == "1":
        return sorted(keys)
    return sorted(
        k
        for k in keys
        if int(hashlib.md5(k.encode()).hexdigest(), 16) % 5 == 0
    )


@pytest.mark.parametrize("key", _tier(ORACLES))
def test_oracle_match(key, spark, duck):
    df = QUERIES[key](spark, SF_ORACLE)
    compare(df, duck, ORACLES[key], key=key)


@pytest.mark.parametrize("key", _tier(set(QUERIES) - set(ORACLES)))
def test_rows_only_runs(key, spark):
    df = QUERIES[key](spark, SF_ORACLE)
    assert df.columns, f"{key}: empty schema"
    assert df.count() >= 0


#: keys whose oracle SQL reads an artifact under the repo's .scratch
#: root — a relation only the Spark side of the key (or a sibling key)
#: builds. The pandas-safe gate below builds each listed key's artifact
#: (by running the key) before it DESCRIBEs the oracle. The set may only
#: shrink: retire a key by making its oracle read source tables alone,
#: then drop it here; a newly pinned oracle fails the ratchet.
_ARTIFACT_PINNED = (
    "dedup_embedding",
    "pipeline_ann_reassign",
    "pipeline_ann_reindex",
    "pipeline_ann_retrain_apply",
    "pipeline_ann_retrain_gate",
    "pipeline_semdedup_keep_central",
    "scan_binaryfile",
    "scan_delete_vectors_apply",
    "scan_manifest_snapshot",
    "scan_manifest_time_travel",
    "scan_manifest_vacuum_plan",
    "scan_text_lines",
    "sim_ann_partitioned_probe",
    "sim_cosine_topk_ivf",
    "sim_cosine_topk_ivf_pq",
    "sim_knn_graph",
    "sink_sorted_clustered_write",
    "so_cluster_stats",
    "so_kmeans",
    "so_kmeans_ml",
    "stream_ann_ingest",
    "stream_ann_ingest_ttl",
    "stream_watermark_late",
)


def test_artifact_pinned_oracles_ratchet():
    root = str(pathlib.Path(__file__).resolve().parent.parent / ".scratch") + "/"
    pinned = {k for k, sql in ORACLES.items() if root in sql}
    assert pinned == set(_ARTIFACT_PINNED), (
        f"newly pinned: {sorted(pinned - set(_ARTIFACT_PINNED))}; "
        f"no longer pinned (drop from _ARTIFACT_PINNED): "
        f"{sorted(set(_ARTIFACT_PINNED) - pinned)}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def _is_nested(type_str: str) -> bool:
    """The nested-output gate's type predicate, defined ONCE so the
    self-test below pins the shipped gate, not a private copy. Matches
    a bare "[" so fixed-size arrays ("BIGINT[8]") are rejected too,
    not just "[]" (ADVICE r8)."""
    return any(tok in type_str.upper() for tok in ("[", "STRUCT", "MAP("))


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_output_types_pandas_safe(key, duck, request):
    """Permanent gate for the r2 failure class: DuckDB HUGEINT output
    columns coerce to float64 in the driver's pandas canonicalizer while
    Spark emits int64 → guaranteed hash mismatch.  DESCRIBE every oracle
    and reject HUGEINT (and other pandas-lossy types) at the source.
    An artifact-pinned oracle is described only after its key has built
    the artifact it reads (the contract of ``engine.kmeans._assign_path``:
    the Spark query runs before the oracle); every other case stays
    JVM-free."""
    if key in _ARTIFACT_PINNED:
        QUERIES[key](request.getfixturevalue("spark"), SF_ORACLE)
    desc = duck.execute(f"DESCRIBE {ORACLES[key]}").fetchall()
    bad = [(c, t) for c, t, *_ in desc if "HUGEINT" in t.upper()]
    assert not bad, (
        f"{key}: HUGEINT output column(s) {bad} — add CAST(... AS BIGINT) "
        f"in the oracle SQL (DuckDB SUM(BIGINT)/LIST_SUM type as HUGEINT)"
    )
    # r7 failure class: list/struct/map output columns crash the driver's
    # pandas sort_values canonicalizer (unhashable) before the oracle even
    # runs — pipeline_embed_batch's ERR. Scalar columns only.
    nested = [(c, t) for c, t, *_ in desc if _is_nested(t)]
    assert not nested, (
        f"{key}: nested output column(s) {nested} — flatten with "
        f"ARRAY_TO_STRING / engine.canon.joined or explode before returning"
    )


def test_nested_gate_catches_fixed_size_arrays(duck):
    """Gate self-test (VERDICT r9 task 5): DuckDB fixed-size arrays type
    as e.g. ``BIGINT[3]`` — no ``[]`` token — so the nested-output gate
    must match a bare ``[``.  Pin that a fixed-size-array column, a
    variable list, a struct, and a map are ALL flagged, and that the
    scalar types the registry actually emits pass clean."""
    flagged_sql = {
        "fixed": "SELECT CAST([1,2,3] AS BIGINT[3]) AS v",
        "list": "SELECT [1,2,3] AS v",
        "struct": "SELECT {'a': 1} AS v",
        "map": "SELECT MAP([1],[2]) AS v",
    }
    for label, sql in flagged_sql.items():
        desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        nested = [(c, t) for c, t, *_ in desc if _is_nested(t)]
        assert nested, f"{label}: gate missed nested type {desc}"
    desc = duck.execute(
        "DESCRIBE SELECT 1::BIGINT AS a, 1.5::DOUBLE AS b, 'x' AS c, "
        "DATE '2024-01-01' AS d, TRUE AS e"
    ).fetchall()
    nested = [(c, t) for c, t, *_ in desc if _is_nested(t)]
    assert not nested, f"gate false-positive on scalar types: {nested}"


def test_dround_matches_duckdb_round_on_random_doubles(spark, duck):
    """Cross-engine rounding sweep: dround must equal DuckDB ROUND on a
    large seeded sample including adversarial near-boundary values."""
    import random

    rng = random.Random(7)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(20000)]
    # adversarial: values at exact .005 decimal boundaries
    vals += [round(rng.uniform(-1000, 1000), 2) + 0.005 for _ in range(5000)]
    from engine.canon import dround
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {
        r["i"]: r["r"]
        for r in df.select("i", dround(F.col("v"), 2).alias("r")).collect()
    }
    duck.execute("CREATE OR REPLACE TEMP TABLE _rvals(i BIGINT, v DOUBLE)")
    duck.executemany("INSERT INTO _rvals VALUES (?, ?)", list(enumerate(vals)))
    want = dict(duck.execute("SELECT i, ROUND(v, 2) FROM _rvals").fetchall())
    bad = [(i, got[i], want[i]) for i in got if got[i] != want[i]]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_priority_rotation_names_are_registered_and_unique():
    """A typo'd key in the _PRIORITY rotation doesn't error — _ordered
    silently skips unknown names, shrinking the driver's 50-key window
    and silently demoting whatever should have filled the slot. Pin the
    invariant here so every rotation is checked by CI."""
    from engine.registry import _PRIORITY

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate key in _PRIORITY"
    unknown = [k for k in _PRIORITY if k not in QUERIES]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"


def test_round_half_away_matches_duckdb_round(duck):
    """Cross-engine pin for the PYTHON-side ROUND mirror (the dround
    test's sibling): engine.canon.round_half_away must equal DuckDB
    ROUND on random doubles plus adversarial cases — exact .5 ties
    (where Python round() half-evens away), 1-ulp-below-tie values
    (where floor(x+0.5) rounds up but std::round does not), and
    negatives (half AWAY from zero, not half up)."""
    import random

    import numpy as np

    from engine.canon import round_half_away

    rng = random.Random(11)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(20000)]
    vals += [float(k) + 0.5 for k in range(-50, 50)]          # exact ties
    vals += [np.nextafter(float(k) + 0.5, k) for k in range(0, 50)]
    vals += [np.nextafter(float(-k) - 0.5, -k) for k in range(0, 50)]
    got = [float(round_half_away(v)) for v in vals]
    duck.execute("CREATE OR REPLACE TEMP TABLE _hvals(i BIGINT, v DOUBLE)")
    duck.executemany("INSERT INTO _hvals VALUES (?, ?)", list(enumerate(vals)))
    want = [r[0] for r in duck.execute(
        "SELECT ROUND(v) FROM _hvals ORDER BY i").fetchall()]
    bad = [(v, g, w) for v, g, w in zip(vals, got, want) if g != w]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_table_rows_matches_parquet_counts(duck):
    """session.table_rows (footer-metadata row count backing the LSH
    adaptive width) must equal the actual row count for every source
    table at the oracle SF, and be memoized-stable across calls."""
    from engine.session import TABLES, table_rows

    for t in TABLES:
        want = duck.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        got = table_rows(SF_ORACLE, t)
        assert got == want, f"{t}: footer {got} != actual {want}"
        assert table_rows(SF_ORACLE, t) == got
