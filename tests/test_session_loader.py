"""The r13 table-loader memos: schema cache + per-session tune.

`load_table` memoizes the inferred parquet schema per
(sf_dir, table, data fingerprint) so repeat loads skip the footer
inference round trip; the memo must (a) serve the identical schema,
(b) key on the data fingerprint so a rewritten table re-infers, and
(c) never leak across sf dirs. `tune` applies its session invariants
once per live session object. Engine code changes a session conf for a
block only through `session_confs`.
"""

from __future__ import annotations

import ast
import pathlib
import shutil

import engine.session as S
from engine.session import load_table, tiny_df

from .conftest import SF_ORACLE, SF_SMOKE


def test_schema_memo_identical_schema_and_rows(spark):
    a = load_table(spark, SF_SMOKE, "nation")  # may infer or hit memo
    b = load_table(spark, SF_SMOKE, "nation")  # memo hit
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_schema_memo_is_per_sf_dir(spark):
    lo = load_table(spark, SF_SMOKE, "lineitem")
    hi = load_table(spark, SF_ORACLE, "lineitem")
    assert lo.schema == hi.schema  # same layout, distinct memo entries
    fp_lo = S.data_fingerprint(SF_SMOKE, "lineitem")
    fp_hi = S.data_fingerprint(SF_ORACLE, "lineitem")
    assert (SF_SMOKE, "lineitem", fp_lo) in S._TABLE_SCHEMA_CACHE
    assert (SF_ORACLE, "lineitem", fp_hi) in S._TABLE_SCHEMA_CACHE


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    src = tiny_df(spark, [(1, "a")], "k int, v string")
    src.write.mode("overwrite").parquet(f"{sf}/nation.parquet")
    first = load_table(spark, sf, "nation")
    assert [f.name for f in first.schema.fields] == ["k", "v"]
    # rewrite with a DIFFERENT schema: the fingerprint key must force a
    # fresh inference, not serve the stale memo
    shutil.rmtree(f"{sf}/nation.parquet")
    tiny_df(spark, [(1, "a", 2.0)], "k int, v string, w double").write.parquet(
        f"{sf}/nation.parquet"
    )
    second = load_table(spark, sf, "nation")
    assert [f.name for f in second.schema.fields] == ["k", "v", "w"]


def test_events_loader_memoized_and_typed(spark):
    from pyspark.sql.types import TimestampType

    a = S.load_events(spark, SF_SMOKE)
    b = S.load_events(spark, SF_SMOKE)
    assert isinstance(a.schema["ts"].dataType, TimestampType)
    assert a.schema == b.schema
    key = (SF_SMOKE, "events", S.data_fingerprint(SF_SMOKE, "events"))
    assert key in S._TABLE_SCHEMA_CACHE


def test_tune_applies_once_per_session(spark):
    S.tune(spark)
    assert spark in S._TUNED_SESSIONS
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # second call is the memo path (no conf mutation to observe beyond
    # the invariants already holding)
    S.tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tiny_df_one_partition(spark):
    df = tiny_df(spark, [(i,) for i in range(5)], "x int")
    assert df.rdd.getNumPartitions() == 1
    assert [r["x"] for r in df.collect()] == [0, 1, 2, 3, 4]
    empty = tiny_df(spark, [], "x int, y long")
    assert empty.count() == 0 and len(empty.schema) == 2


def test_session_confs_only_in_session_module():
    """Every block-scoped conf change goes through
    engine.session.session_confs, which restores the previous value even
    when the block raises; a conf set/unset anywhere else in engine/
    would bring back a hand-rolled restore (or none)."""
    engine = pathlib.Path(__file__).resolve().parent.parent / "engine"
    bad = []
    for f in sorted(engine.glob("*.py")):
        if f.name == "session.py":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            fn = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(fn, ast.Attribute)
                and fn.attr in ("set", "unset")
                and isinstance(fn.value, ast.Attribute)
                and fn.value.attr == "conf"
            ):
                bad.append(f"{f.name}:{node.lineno}")
    assert not bad, bad
