"""session.bounded_call: contract-bounded loop frames are planned in a
per-call clone of the caller's session, so the shared session's conf is
never flipped — a concurrent planner keeps planning adaptively, and
frames handed back plan in the caller's session again.
"""

from __future__ import annotations

import re
import threading
from pathlib import Path

from pyspark import RDD
from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import vector
from blinkit_etl_pipeline_spark.session import (
    BOUNDED_SHUFFLE_PARTITIONS,
    bounded_call,
)

from conftest import SF_SMOKE

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"
PACKAGE = Path(__file__).resolve().parents[1] / "blinkit_etl_pipeline_spark"


def _plan_class(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


def _grouped(df):
    return df.groupBy((F.col("id") % 7).alias("g")).count()


def test_bounded_walk_leaves_a_concurrent_planner_adaptive(spark, monkeypatch):
    """While a graph walk builds its rounds on one thread, another
    thread's session conf and plans are untouched."""
    aqe, parts = spark.conf.get(AQE), spark.conf.get(PARTS)
    assert aqe == "true"
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ids = [
        r["vec_id"]
        for r in emb.select("vec_id").orderBy("vec_id").limit(6).collect()
    ]
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "u long, v long")
    seeds = spark.createDataFrame([(ids[0], ids[1])], "query_id long, neighbor_id long")

    building, release = threading.Event(), threading.Event()
    score = vector._gs_score

    def blocking_score(*args, **kwargs):
        building.set()
        assert release.wait(60)
        return score(*args, **kwargs)

    monkeypatch.setattr(vector, "_gs_score", blocking_score)
    walk: dict = {}

    def build():
        walk["df"] = vector.graph_search_rounds(
            vector.with_q(emb), edges, seeds, k=3, beam=2, rounds=2
        )

    t = threading.Thread(target=build)
    t.start()
    try:
        assert building.wait(60)
        assert spark.conf.get(AQE) == aqe
        assert spark.conf.get(PARTS) == parts
        assert _plan_class(_grouped(spark.range(100))) == "AdaptiveSparkPlanExec"
    finally:
        release.set()
        t.join(120)
    assert not t.is_alive()
    got = walk["df"].collect()
    assert {r["query_id"] for r in got} == {ids[0]}
    assert sorted(r["rank"] for r in got) == [1, 2, 3]


def test_bounded_call_plans_in_a_clone_and_returns_caller_frames(spark):
    aqe, to_df = spark.conf.get(AQE), RDD.toDF
    df = spark.range(1000)
    inside: dict = {}

    def body(d, n):
        g = _grouped(d)
        inside["plan"] = _plan_class(g)
        inside["parts"] = d.sparkSession.conf.get(PARTS)
        inside["jsession"] = g._jdf.sparkSession()
        return g, n

    g, n = bounded_call(body, df, 7)
    assert inside["plan"] != "AdaptiveSparkPlanExec"
    assert inside["parts"] == str(BOUNDED_SHUFFLE_PARTITIONS)
    assert not inside["jsession"].equals(spark._jsparkSession)
    # handed back: bound to the caller's session, planned adaptively
    assert n == 7
    assert g.sparkSession is spark
    assert g._jdf.sparkSession().equals(spark._jsparkSession)
    assert _plan_class(g) == "AdaptiveSparkPlanExec"
    assert sorted((r["g"], r["count"]) for r in g.collect()) == [
        (i, 143 if i < 6 else 142) for i in range(7)
    ]
    assert spark.conf.get(AQE) == aqe
    # no process-global rebinding to the clone either
    assert RDD.toDF is to_df


def test_no_runtime_conf_set_outside_session():
    """Session conf is set in session.py only; testdata's
    nanosAsLong line is the read-compatibility path for a vanilla
    session and sets the value get_session already sets."""
    hits = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\bconf(\(\))?\.set\(", line)
        and not (p.name == "testdata.py" and "nanosAsLong" in line)
    ]
    assert hits == []
