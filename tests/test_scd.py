"""SCD Type-2 build + incremental apply: compression, interval
correctness, batch-split invariance, idempotent redelivery."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import scd


def _ts(s: int):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _feed(spark, rows):
    return spark.createDataFrame(
        [(k, a, _ts(t), str(tb).zfill(4)) for (k, a, t, tb) in rows],
        "k long, a string, ts timestamp, tb string",
    )


def _rows(df):
    return sorted(
        (
            r.k,
            r.state,
            r.valid_from,
            r.valid_to,
            r.version,
            r.is_current,
        )
        for r in df.collect()
    )


def test_build_compresses_and_intervals(spark):
    feed = _feed(
        spark,
        [
            (1, "A", 0, 1),
            (1, "A", 10, 2),  # unchanged -> compressed away
            (1, "B", 20, 3),
            (1, "A", 30, 4),  # back to A -> NEW version (type 2)
            (2, "X", 5, 5),
        ],
    )
    got = _rows(scd.scd2_build(feed, "k", "a", "ts", "tb"))
    assert got == [
        (1, "A", _ts(0), _ts(20), 1, False),
        (1, "A", _ts(30), None, 3, True),
        (1, "B", _ts(20), _ts(30), 2, False),
        (2, "X", _ts(5), None, 1, True),
    ]


def test_build_same_ts_tiebreak(spark):
    feed = _feed(spark, [(1, "B", 0, 2), (1, "A", 0, 1)])
    got = _rows(scd.scd2_build(feed, "k", "a", "ts", "tb"))
    # tiebreak 0001 (A) precedes 0002 (B): A opens, B supersedes at
    # the same instant (zero-duration first version)
    assert got == [
        (1, "A", _ts(0), _ts(0), 1, False),
        (1, "B", _ts(0), None, 2, True),
    ]


def test_apply_equals_full_build(spark):
    rows = [
        (1, "A", 0, 1),
        (1, "B", 20, 2),
        (2, "X", 5, 3),
        (1, "C", 40, 4),
        (2, "X", 50, 5),  # unchanged -> still one version
        (3, "Q", 60, 6),
    ]
    full = scd.scd2_build(_feed(spark, rows), "k", "a", "ts", "tb")
    dim1 = scd.scd2_build(_feed(spark, rows[:3]), "k", "a", "ts", "tb")
    applied = scd.scd2_apply(
        dim1, _feed(spark, rows[3:]), "k", "a", "ts", "tb"
    )
    assert _rows(applied) == _rows(full)


def test_apply_out_of_order_batch_splits_interval(spark):
    rows = [(1, "A", 0, 1), (1, "C", 40, 2)]
    late = [(1, "B", 20, 3)]  # lands BETWEEN the two existing versions
    dim = scd.scd2_build(_feed(spark, rows), "k", "a", "ts", "tb")
    applied = scd.scd2_apply(dim, _feed(spark, late), "k", "a", "ts", "tb")
    full = scd.scd2_build(_feed(spark, rows + late), "k", "a", "ts", "tb")
    assert _rows(applied) == _rows(full)


def test_apply_idempotent_redelivery(spark):
    rows = [(1, "A", 0, 1), (1, "B", 20, 2), (2, "X", 5, 3)]
    batch = _feed(spark, [(1, "C", 40, 4)])
    dim = scd.scd2_build(_feed(spark, rows), "k", "a", "ts", "tb")
    once = scd.scd2_apply(dim, batch, "k", "a", "ts", "tb")
    twice = scd.scd2_apply(once, batch, "k", "a", "ts", "tb")
    assert _rows(once) == _rows(twice)


def test_apply_leaves_untouched_keys_alone(spark):
    rows = [(1, "A", 0, 1), (2, "X", 5, 2)]
    dim = scd.scd2_build(_feed(spark, rows), "k", "a", "ts", "tb")
    applied = scd.scd2_apply(
        dim, _feed(spark, [(1, "B", 9, 3)]), "k", "a", "ts", "tb"
    )
    before = [r for r in _rows(dim) if r[0] == 2]
    after = [r for r in _rows(applied) if r[0] == 2]
    assert before == after


def test_lookup_point_in_time(spark):
    feed = _feed(spark, [(1, "A", 0, 1), (1, "B", 20, 2), (2, "X", 5, 3)])
    dim = scd.scd2_build(feed, "k", "a", "ts", "tb")
    live = scd.scd2_lookup(dim, F.lit(_ts(10)).cast("timestamp"))
    got = sorted((r.k, r.state) for r in live.collect())
    assert got == [(1, "A"), (2, "X")]


def test_apply_snapshot_equals_full_build_in_order(spark, tmp_path):
    """Per-key in-order delivery (the CDC contract): any batch split of
    a feed with repeated/duplicate states folds, through the bucketed
    snapshot store, to the full rebuild."""
    import random

    from blinkit_etl_pipeline_spark.operators import snapshot

    rng = random.Random(7)
    rows = [
        (k, rng.choice("ABC"), t * 10 + k, t * 100 + k)
        for k in range(1, 21)
        for t in range(5)
    ]
    ordered = sorted(rows, key=lambda r: (r[2], r[3]))  # global ts order
    table = str(tmp_path / "dim")
    for i in range(0, len(ordered), 25):
        scd.scd2_apply_snapshot(
            spark, table, _feed(spark, ordered[i : i + 25]),
            "k", "a", "ts", "tb", n_buckets=8,
        )
    got = snapshot.read_snapshot(spark, table)
    full = scd.scd2_build(_feed(spark, rows), "k", "a", "ts", "tb")
    assert _rows(got) == _rows(full)

def test_apply_snapshot_rewrites_only_touched_buckets(spark, tmp_path):
    """A batch rewrites only the buckets its keys hash into: every
    other bucket's manifest entries keep identical paths across the
    versions, and their files are not rewritten."""
    import os

    from blinkit_etl_pipeline_spark.operators import snapshot

    table = str(tmp_path / "dim")
    scd.scd2_apply_snapshot(
        spark, table,
        _feed(spark, [(k, "A", 0, k) for k in range(1, 30)]),
        "k", "a", "ts", "tb", n_buckets=8,
    )
    m1 = snapshot.read_manifest(table)
    mtimes = {e["path"]: os.path.getmtime(e["path"]) for e in m1["files"]}
    touched = scd.scd2_apply_snapshot(
        spark, table, _feed(spark, [(1, "B", 5, 99)]),
        "k", "a", "ts", "tb",
    )
    assert len(touched) == 1
    m2 = snapshot.read_manifest(table)
    assert m2["version"] == m1["version"] + 1

    def untouched(m):
        return sorted(
            (e["bucket"], e["path"]) for e in m["files"]
            if e["bucket"] not in touched
        )

    assert untouched(m1)
    assert untouched(m2) == untouched(m1)
    for _, p in untouched(m2):
        assert os.path.getmtime(p) == mtimes[p]
    rewritten = {e["path"] for e in m2["files"] if e["bucket"] in touched}
    assert rewritten and not rewritten & set(mtimes)

def test_streaming_scd2_ingest_equals_batch_build(spark, tmp_path):
    """r10 (VERDICT r9 task #2): the streamed maintainer routes
    through the MVCC snapshot path — equivalence with the batch build
    over out-of-order drops, PLUS reader isolation: a reader pinned to
    a mid-stream version sees that version's complete dimension after
    further streamed applies land."""
    from blinkit_etl_pipeline_spark.operators import snapshot
    from blinkit_etl_pipeline_spark.operators.scd import (
        scd2_apply_snapshot,
        scd2_build,
    )
    from blinkit_etl_pipeline_spark.streaming.file_source import (
        run_available_now,
    )

    rows = [
        (k, "ABC"[t % 3], t * 10 + k, t * 100 + k)
        for k in range(1, 11)
        for t in range(4)
    ]
    feed = _feed(spark, rows)
    raw = tmp_path / "raw"
    raw.mkdir()
    # three file drops split by tiebreak hash -> out-of-order arrivals;
    # exact here because the A/B/C cycle never produces the
    # consecutive-duplicate + late-row interaction the contract excludes
    for i in range(3):
        feed.filter(F.crc32(F.col("tb")) % 3 == i).coalesce(1).write.parquet(
            str(raw / f"drop{i}")
        )
    first = feed.filter(F.crc32(F.col("tb")) % 3 == 0)
    dim_table = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def sweep(path, ckpt_dir, **kw):
        stream = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        run_available_now(
            stream, ckpt_dir,
            lambda df, epoch: scd2_apply_snapshot(
                df.sparkSession, dim_table, df, "k", "a", "ts", "tb", **kw
            ),
            timeout_sec=120,
        )

    # sweep 1: only drop0 is visible — one committed version, which
    # pins the store's bucket count at 4
    sweep(str(raw / "drop0"), ckpt + "0", n_buckets=4)
    v_mid = snapshot.current_version(dim_table)
    want_mid = _rows(scd2_build(first, "k", "a", "ts", "tb"))
    pinned = snapshot.read_snapshot(spark, dim_table, v_mid)  # resolved NOW
    assert _rows(pinned) == want_mid
    # sweep 2: the remaining drops stream in (separate checkpoint —
    # drop0 redelivers too; the fold absorbs it by construction),
    # without naming the bucket count: the store's pinned 4 is used
    sweep(str(raw / "drop*"), ckpt + "1")
    assert _rows(snapshot.read_snapshot(spark, dim_table)) == _rows(
        scd2_build(feed, "k", "a", "ts", "tb")
    )
    # MVCC: the pre-resolved frame and the pinned version still read
    # the COMPLETE mid-stream dimension (no bucket ever went missing)
    assert _rows(pinned) == want_mid
    assert _rows(snapshot.read_snapshot(spark, dim_table, v_mid)) == want_mid


def test_apply_out_of_order_compression_loss_is_the_documented_one(spark):
    """The contract's one irreducible loss, pinned: a consecutive-
    duplicate observation compressed at apply time cannot be
    resurrected by a later-arriving row that lands before it."""
    first = [(1, "A", 0, 1), (1, "A", 20, 2)]  # second A compresses away
    late = [(1, "B", 10, 3)]  # lands between them, arrives later
    dim = scd.scd2_build(_feed(spark, first), "k", "a", "ts", "tb")
    applied = scd.scd2_apply(dim, _feed(spark, late), "k", "a", "ts", "tb")
    got = [(r.state, r.valid_from, r.valid_to) for r in sorted(
        applied.collect(), key=lambda r: r.version)]
    # full rebuild would give A[0,10) B[10,20) A[20,-); the compressed
    # dim yields A[0,10) B[10,-) — B absorbs the lost re-assertion
    assert got == [("A", _ts(0), _ts(10)), ("B", _ts(10), None)]


def test_ewma_anomaly_flags_spike_not_steady_state(spark):
    """Steady 10/hour -> spike of 100 flagged; steady hours and
    warm-up (first 8) never flagged; halving flagged too."""
    import datetime as dt

    from blinkit_etl_pipeline_spark.operators.events import ewma_anomaly

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 12 steady hours at 10, hour 12 spikes to 100, hour 13 drops to 2
    for h, n in list(enumerate([10] * 12 + [100, 2])):
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=eid % 60),
                         "click"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = {r.hour.hour: r for r in ewma_anomaly(ev).collect()}
    assert all(out[h].pred_q is None for h in range(8))  # warm-up
    assert not any(out[h].anomaly for h in range(12))
    assert out[12].anomaly  # 100 vs EWMA ~10: doubled
    assert out[13].anomaly  # 2 vs EWMA pulled up by the spike: halved


def test_apply_equal_ts_long_tiebreaks_match_build(spark):
    """r7 review regression: numeric tiebreaks 9 vs 10 at the same ts
    must order numerically in apply exactly as in build (an earlier
    spelling cast them to strings: '10' < '9')."""
    feed = spark.createDataFrame(
        [(1, "B", _ts(5), 9), (1, "C", _ts(5), 10)],
        "k long, a string, ts timestamp, tb long",
    )
    full = scd.scd2_build(feed, "k", "a", "ts", "tb")
    applied = scd.scd2_apply(
        full.limit(0), feed, "k", "a", "ts", "tb"
    )
    assert _rows(applied) == _rows(full)
    cur = [r.state for r in full.collect() if r.is_current]
    assert cur == ["C"]  # tb=10 sorts AFTER tb=9 numerically


def test_apply_equal_ts_string_tiebreaks_keep_original_order(spark):
    """r7 review regression: an existing version's ORIGINAL tiebreak
    (not a synthetic padded one) orders against a new same-ts row."""
    first = spark.createDataFrame(
        [(1, "A", _ts(5), "000")], "k long, a string, ts timestamp, tb string"
    )
    late = spark.createDataFrame(
        [(1, "B", _ts(5), "0000")], "k long, a string, ts timestamp, tb string"
    )
    dim = scd.scd2_build(first, "k", "a", "ts", "tb")
    applied = scd.scd2_apply(dim, late, "k", "a", "ts", "tb")
    full = scd.scd2_build(first.unionByName(late), "k", "a", "ts", "tb")
    assert _rows(applied) == _rows(full)
    cur = [r.state for r in applied.collect() if r.is_current]
    assert cur == ["B"]  # '000' < '0000' -> A opened first


def test_streaming_ewma_ingest_equals_batch_any_order(spark, tmp_path):
    """Hourly counts fold additively: the store-fed flags equal the
    batch answer for ANY arrival order (no in-order contract here)."""
    import datetime as dt

    from blinkit_etl_pipeline_spark.operators.events import (
        ewma_anomaly,
        ewma_flags_from_store,
        ingest_ewma_hourly,
    )
    from blinkit_etl_pipeline_spark.streaming.file_source import (
        run_available_now,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, n in enumerate([10] * 12 + [100, 2]):
        for _ in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, seconds=eid % 60),
                 "click")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(3):  # hash-split drops: out-of-order hours per drop
        ev.filter(F.crc32(F.col("event_id").cast("string")) % 3 == i)\
            .coalesce(1).write.parquet(str(raw / f"drop{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(raw / "drop*"))
    )
    store = str(tmp_path / "store")
    run_available_now(
        stream, str(tmp_path / "ckpt"),
        lambda df, epoch: ingest_ewma_hourly(
            df.sparkSession, store, df, batch_id=f"epoch-{epoch}"
        ),
        timeout_sec=120,
    )
    got = sorted(
        map(tuple, ewma_flags_from_store(spark, store).collect())
    )
    want = sorted(map(tuple, ewma_anomaly(ev).collect()))
    assert got == want
    assert any(r[4] for r in got)  # the spike still flags


def test_snapshot_store_mvcc_reader_isolation(spark, tmp_path):
    """r9 (VERDICT r8 task #3): the snapshot-backed apply gives
    concurrent readers MVCC isolation — a reader pinned to the
    pre-commit version (or holding a frame resolved before the
    commit) sees the COMPLETE old dimension during and after an
    in-flight apply, never a missing bucket; the latest version
    equals the full rebuild over all observations; untouched buckets'
    files are carried by reference, not rewritten."""
    from blinkit_etl_pipeline_spark.operators import snapshot

    table = str(tmp_path / "dim")
    f1 = _feed(spark, [(1, "A", 0, 1), (2, "X", 0, 2), (3, "P", 0, 3)])
    scd.scd2_apply_snapshot(spark, table, f1, "k", "a", "ts", "tb",
                            n_buckets=8)
    v1 = snapshot.current_version(table)
    pinned = snapshot.read_snapshot(spark, table, v1)  # resolved NOW
    want_v1 = _rows(scd.scd2_build(f1, "k", "a", "ts", "tb"))
    assert _rows(pinned) == want_v1
    m1 = snapshot.read_manifest(table, v1)

    # the apply = "in-flight write" from the pinned reader's view
    f2 = _feed(spark, [(1, "B", 10, 4), (4, "Q", 10, 5)])
    touched = scd.scd2_apply_snapshot(spark, table, f2, "k", "a", "ts",
                                      "tb")
    v2 = snapshot.current_version(table)
    assert v2 == v1 + 1

    # 1. the pre-resolved frame still evaluates to v1's full content
    assert _rows(pinned) == want_v1
    # 2. a reader re-pinning v1 by number sees it too (time travel)
    assert _rows(snapshot.read_snapshot(spark, table, v1)) == want_v1
    # 3. latest == full rebuild over the union feed
    want_v2 = _rows(
        scd.scd2_build(f1.unionByName(f2), "k", "a", "ts", "tb")
    )
    assert _rows(snapshot.read_snapshot(spark, table)) == want_v2
    # 4. untouched buckets' files carried by REFERENCE: every v1 entry
    # whose bucket was not touched appears verbatim in v2's manifest
    m2 = snapshot.read_manifest(table, v2)
    kept1 = {e["path"] for e in m1["files"] if e["bucket"] not in touched}
    paths2 = {e["path"] for e in m2["files"]}
    assert kept1 and kept1 <= paths2
    # and every touched bucket's v1 file is GONE from v2
    dropped = {e["path"] for e in m1["files"] if e["bucket"] in touched}
    assert dropped and not (dropped & paths2)


def test_snapshot_store_bucket_pin_and_idempotent_redelivery(spark, tmp_path):
    """The bucket count is a write-once format property; redelivering
    an applied batch is a no-op by compression."""
    import pytest

    from blinkit_etl_pipeline_spark.operators import snapshot

    table = str(tmp_path / "dim")
    f1 = _feed(spark, [(1, "A", 0, 1), (2, "X", 0, 2)])
    scd.scd2_apply_snapshot(spark, table, f1, "k", "a", "ts", "tb",
                            n_buckets=4)
    with pytest.raises(snapshot.SnapshotError, match="buckets"):
        scd.scd2_apply_snapshot(spark, table, f1, "k", "a", "ts", "tb",
                                n_buckets=16)
    before = _rows(snapshot.read_snapshot(spark, table))
    scd.scd2_apply_snapshot(spark, table, f1, "k", "a", "ts", "tb")
    assert _rows(snapshot.read_snapshot(spark, table)) == before


def test_snapshot_apply_refuses_untagged_store(spark, tmp_path):
    """r9 review: applying onto a plain snapshot table (no bucket
    tags) must raise loudly instead of silently keeping old files
    while rebuilding from an empty base."""
    import pytest

    from blinkit_etl_pipeline_spark.operators import snapshot

    table = str(tmp_path / "plain")
    dim = scd.scd2_build(
        _feed(spark, [(1, "A", 0, 1)]), "k", "a", "ts", "tb"
    )
    snapshot.write_snapshot(dim, table)
    with pytest.raises(snapshot.SnapshotError, match="bucket tags"):
        scd.scd2_apply_snapshot(
            spark, table, _feed(spark, [(1, "B", 5, 2)]),
            "k", "a", "ts", "tb",
        )


def test_compaction_refuses_bucketed_store(spark, tmp_path):
    """Compacting a bucketed SCD2 store would write untagged files
    (stored rows drop the bucket column) and lock every later apply
    out; compaction refuses it and the store stays appliable."""
    import pytest

    from blinkit_etl_pipeline_spark.operators import snapshot

    table = str(tmp_path / "dim")
    for step in range(3):
        scd.scd2_apply_snapshot(
            spark, table,
            _feed(spark, [(k, "AB"[step % 2], step * 10 + k, step * 100 + k)
                          for k in range(1, 9)]),
            "k", "a", "ts", "tb", n_buckets=4,
        )
    before = snapshot.read_manifest(table)
    with pytest.raises(snapshot.SnapshotError, match="rewrite_buckets"):
        snapshot.compact_snapshot(spark, table, target_files=1)
    assert snapshot.read_manifest(table)["version"] == before["version"]
    scd.scd2_apply_snapshot(
        spark, table, _feed(spark, [(1, "C", 99, 999)]), "k", "a", "ts", "tb"
    )
    current = {
        r.k: r.state
        for r in snapshot.read_snapshot(spark, table).collect()
        if r.is_current
    }
    assert current[1] == "C" and len(current) == 8


def test_scd2_changes_classification_and_store_twin(spark, tmp_path):
    """r9: the CDC-out feed classifies correctly — closing a current
    version emits an update pre/post pair, the new version an insert;
    a frame diff and the store-version diff (manifest-pruned) agree."""
    from blinkit_etl_pipeline_spark.operators import snapshot

    f1 = _feed(spark, [(1, "A", 0, 1), (2, "X", 0, 2)])
    f2 = _feed(spark, [(1, "B", 10, 3)])
    dim1 = scd.scd2_build(f1, "k", "a", "ts", "tb")
    dim2 = scd.scd2_build(f1.unionByName(f2), "k", "a", "ts", "tb")
    out = scd.scd2_changes_frames(dim1, dim2, "k").collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["change_type"], []).append(r)
    # key 1: version A was closed (update pair), version B inserted;
    # key 2 untouched — nothing emitted for it
    assert {r["k"] for r in out} == {1}
    assert len(by_type["insert"]) == 1
    assert by_type["insert"][0]["state"] == "B"
    assert by_type["insert"][0]["is_current"]
    pre = by_type["update_preimage"][0]
    post = by_type["update_postimage"][0]
    assert pre["state"] == post["state"] == "A"
    assert pre["is_current"] and not post["is_current"]
    assert pre["valid_to"] is None and post["valid_to"] == _ts(10)
    assert "delete" not in by_type
    # store twin: same feed through the MVCC store, diff by version
    table = str(tmp_path / "dim")
    scd.scd2_apply_snapshot(spark, table, f1, "k", "a", "ts", "tb",
                            n_buckets=4)
    scd.scd2_apply_snapshot(spark, table, f2, "k", "a", "ts", "tb")
    got_store = sorted(
        map(tuple, scd.scd2_changes(spark, table, 1, 2, "k").collect())
    )
    assert got_store == sorted(map(tuple, out))
