"""The two registry-wide properties every table-group test module
checks over its own key tuple, kept once here: a key must return the
same rows on a second run, and its rows must not depend on
``spark.sql.shuffle.partitions`` (otherwise driver-side config drift
could flip a value hash)."""

from __future__ import annotations

from engine.registry import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def assert_double_run_identical(spark, keys) -> None:
    for key in keys:
        a = QUERIES[key](spark, SF_SMOKE).collect()
        b = QUERIES[key](spark, SF_SMOKE).collect()
        assert a == b, key


def assert_partition_count_invariant(spark, keys) -> None:
    """Run every key at 8 and at 32 shuffle partitions and require
    identical rows."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        at8 = {k: QUERIES[k](spark, SF_SMOKE).collect() for k in keys}
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        for k in keys:
            assert QUERIES[k](spark, SF_SMOKE).collect() == at8[k], k
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
