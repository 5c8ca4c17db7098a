"""MERGE/upsert: relation semantics, latest-wins versions and the
broadcast anti join. The table-level copy-on-write MERGE
(``snapshot.merge_snapshot``) is tested in test_snapshot.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import merge


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_upsert_update_insert_delete(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [
            (2, "B", False),   # update
            (3, None, True),   # delete
            (4, "d", False),   # insert
        ],
        "k bigint, v string, is_delete boolean",
    )
    out = merge.merge_upsert(target, updates, ["k"], delete_col="is_delete")
    assert _rows(out) == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_upsert_latest_version_wins(spark):
    target = spark.createDataFrame([(1, "a")], "k bigint, v string")
    updates = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "x", 5)],
        "k bigint, v string, ver int",
    )
    out = merge.merge_upsert(target, updates, ["k"], version_col="ver")
    assert _rows(out) == [(1, "new"), (2, "x")]


def test_merge_upsert_rejects_schema_drift(spark):
    target = spark.createDataFrame([(1, "a")], "k bigint, v string")
    bad = spark.createDataFrame([(1, "a", 1.0)], "k bigint, v string, extra double")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge.merge_upsert(target, bad, ["k"])


def test_merge_upsert_broadcasts_update_keys(spark):
    """The target side must not shuffle: the anti join broadcasts."""
    target = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    updates = spark.range(10).select(
        F.col("id").alias("k"), F.lit(99).cast("bigint").alias("v")
    )
    out = merge.merge_upsert(target, updates, ["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_merge_upsert_equal_versions_tie_break_deterministically(spark):
    """A redelivered batch with duplicate (key, version) rows must keep
    the SAME row every run — ascending tie-break over the remaining
    columns."""
    target = spark.createDataFrame([(1, "old")], "k bigint, v string")
    dup = spark.createDataFrame(
        [(1, "zzz", 5), (1, "aaa", 5)], "k bigint, v string, ver int"
    )
    for _ in range(3):
        out = merge.merge_upsert(target, dup, ["k"], version_col="ver")
        assert _rows(out) == [(1, "aaa")]
