"""bounded_plan bracket semantics (r14): the AQE-off construction
bracket must be reentrant and overlap-safe across driver threads —
the beam sweep runs three walk constructions concurrently, and a
naive save/restore lets an inner bracket capture a sibling's "false"
and pin AQE off for the rest of the session.
"""

from __future__ import annotations

import threading

from blinkit_etl_pipeline_spark.operators.bounded import (
    BOUNDED_SHUFFLE_PARTITIONS,
    bounded_plan,
)

KEY = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


def test_restores_on_exit_and_exception(spark):
    spark.conf.set(KEY, "true")
    saved = spark.conf.get(PARTS)
    # a session value distinct from the bracket's, whatever the core
    # count the session was sized to
    parts = str(BOUNDED_SHUFFLE_PARTITIONS + 1)
    spark.conf.set(PARTS, parts)
    try:
        with bounded_plan(spark):
            assert spark.conf.get(KEY) == "false"
            # bounded frames get a bounded static partition count
            assert spark.conf.get(PARTS) != parts
            assert spark.conf.get(PARTS) == str(BOUNDED_SHUFFLE_PARTITIONS)
        assert spark.conf.get(KEY) == "true"
        assert spark.conf.get(PARTS) == parts
        try:
            with bounded_plan(spark):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(KEY) == "true"
    finally:
        spark.conf.set(PARTS, saved)


def test_nested_brackets_restore_only_at_outer_exit(spark):
    spark.conf.set(KEY, "true")
    with bounded_plan(spark):
        with bounded_plan(spark):
            assert spark.conf.get(KEY) == "false"
        # inner exit must NOT restore (outer still active) and must
        # NOT have captured "false" as the value to restore later
        assert spark.conf.get(KEY) == "false"
    assert spark.conf.get(KEY) == "true"


def test_overlapping_threads_restore_original(spark):
    """Two brackets overlapping from different threads: whatever the
    exit order, the session ends back at the pre-bracket value."""
    spark.conf.set(KEY, "true")
    t1_in = threading.Event()
    t2_done = threading.Event()

    def t1():
        with bounded_plan(spark):
            t1_in.set()
            assert t2_done.wait(30)

    def t2():
        assert t1_in.wait(30)
        with bounded_plan(spark):
            assert spark.conf.get(KEY) == "false"
        t2_done.set()

    a, b = threading.Thread(target=t1), threading.Thread(target=t2)
    a.start(), b.start()
    a.join(60), b.join(60)
    assert spark.conf.get(KEY) == "true"
