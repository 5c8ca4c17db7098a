"""Sketch accuracy: oracle parity says both engines agree; these tests
say the agreed answer is actually a good estimate of the true value."""

from __future__ import annotations

from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import sketch

from conftest import SF_SMOKE


def _events(spark):
    from blinkit_etl_pipeline_spark.sources.testdata import register_base

    return register_base(spark, SF_SMOKE)["events"]


def test_hll_estimate_within_5pct_of_exact(spark):
    ev = _events(spark)
    est = {
        r["event_type"]: r["hll_estimate"]
        for r in sketch.hll_distinct(ev, ["event_type"], "user_id").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.05, (k, est[k], n)


def test_hll_merge_property(spark):
    """Registers of a union = element-wise max of the parts' registers —
    the property that makes HLL distributable (partial agg merges)."""
    ev = _events(spark)
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    whole = sketch.hll_registers(ev, ["event_type"], "user_id")
    merged = (
        sketch.hll_registers(half_a, ["event_type"], "user_id")
        .unionByName(sketch.hll_registers(half_b, ["event_type"], "user_id"))
        .groupBy("event_type", "bucket")
        .agg(F.max("m_rank").alias("m_rank"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_histogram_quantiles_bracket_truth(spark):
    """Each estimate must sit within one bin width of the exact quantile."""
    ev = _events(spark)
    rows = sketch.histogram_quantiles(ev, ["event_type"], "value").collect()
    stats = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    exact = {
        (r["event_type"], q): ev.filter(F.col("event_type") == r["event_type"])
        .approxQuantile("value", [q], 0.0)[0]
        for r in stats.values()
        for q in (0.5, 0.95, 0.99)
    }
    assert len(rows) == len(exact)
    for r in rows:
        s = stats[r["event_type"]]
        width = (s["hi"] - s["lo"]) / sketch.QUANTILE_BINS
        truth = exact[(r["event_type"], r["q"])]
        assert abs(r["quantile_estimate"] - truth) <= width + 1e-9, (
            r["event_type"], r["q"], r["quantile_estimate"], truth, width,
        )


# ----------------------------------------------------------------------
# Count-Min sketch
# ----------------------------------------------------------------------


def test_cms_never_underestimates_and_bounds_error(spark):
    """CMS guarantee: estimate >= exact for EVERY value; with
    d=4, w=256 and a small distinct count, collisions are rare so the
    heavy hitter ranking should match the exact ranking's head."""
    from pyspark.sql import functions as F

    from blinkit_etl_pipeline_spark.operators import sketch

    base = spark.range(2000).select((F.col("id") % 50).alias("v"))
    hot = spark.range(500).select(F.lit(7).cast("bigint").alias("v"))
    df = base.unionByName(hot)
    hh = sketch.cms_heavy_hitters(df, "v", k=50).collect()
    assert all(r["overestimate"] >= 0 for r in hh)
    assert hh[0]["value"] == 7 and hh[0]["exact_count"] == 540
    # the sketch summary is d*w counters regardless of input rows
    cells = sketch.cms_cells(df, "v")
    assert cells.count() <= sketch.CMS_D * sketch.CMS_W
    totals = cells.groupBy("seed").agg(F.sum("counter").alias("s")).collect()
    assert all(r["s"] == 2500 for r in totals)  # each row sees every item


def test_hll_cumulative_merge_equals_one_shot_on_the_last_day(spark):
    """Register-merge semantics: the cumulative estimate on the final
    day must equal the one-shot HLL over ALL data (merging daily
    sketches loses nothing), estimates must be monotone non-decreasing,
    and the exact side counts first appearances."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from blinkit_etl_pipeline_spark.operators import sketch

    rows = []
    for d in range(5):
        day = _dt.date(2024, 1, d + 1)
        for u in range(d * 40, d * 40 + 120):  # overlapping user ranges
            rows.append((day, u % 300))
    df = spark.createDataFrame(rows, "day date, user_id bigint")

    cum = {
        r["day"]: r
        for r in sketch.hll_cumulative_distinct(df, "day", "user_id").collect()
    }
    ordered = [cum[d] for d in sorted(cum)]
    ests = [r["hll_estimate"] for r in ordered]
    assert ests == sorted(ests)  # monotone
    one_shot = sketch.hll_distinct(
        df.select(F.lit(1).alias("g"), "user_id"), ["g"], "user_id"
    ).collect()[0]["hll_estimate"]
    assert ordered[-1]["hll_estimate"] == one_shot
    # exact side: distinct users to date
    exact_final = df.select("user_id").distinct().count()
    assert ordered[-1]["exact_distinct"] == exact_final
    assert abs(ordered[-1]["hll_estimate"] - exact_final) / exact_final < 0.15


def test_cms_probe_matches_heavy_hitter_estimates(spark):
    """The production probe (sketch + item list only) must return the
    same estimates the QA query reports, and 0 for unseen items."""
    from pyspark.sql import functions as F

    from blinkit_etl_pipeline_spark.operators import sketch

    df = spark.range(3000).select((F.col("id") % 40).alias("v"))
    cells = sketch.cms_cells(df, "v")
    hh = {r["value"]: r["cms_estimate"]
          for r in sketch.cms_heavy_hitters(df, "v", k=40).collect()}
    items = spark.createDataFrame(
        [(v,) for v in [0, 7, 39, 999_999]], "v bigint"
    )
    probed = {r["value"]: r["cms_estimate"]
              for r in sketch.cms_probe(cells, items, "v").collect()}
    for v in (0, 7, 39):
        assert probed[v] == hh[v]
    assert probed[999_999] >= 0  # unseen: collision-bounded, never null


def test_kmv_sketch_exact_below_k_and_plan_has_group_limit(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(40)] + [("b", i) for i in range(10, 30)],
        "g string, v long",
    )
    sk = sketch.kmv_sketch(df, "g", "v", k=256)
    # below k the sketch IS the distinct set
    sizes = {r.g: r.n for r in sk.groupBy("g").count().withColumnRenamed("count", "n").collect()}
    assert sizes == {"a": 40, "b": 20}
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # map-side partial top-k


def test_kmv_overlap_exact_when_small_and_estimates_when_large(spark):
    # small groups: estimates degrade to exact values
    df = spark.createDataFrame(
        [("a", i) for i in range(40)] + [("b", i) for i in range(30, 60)],
        "g string, v long",
    )
    row = sketch.kmv_overlap(df, "g", "v", k=256).collect()[0]
    assert (row.est_a, row.est_b, row.est_union) == (40, 30, 60)
    assert row.est_inter == row.exact_inter == 10
    # large overlapping groups: estimate within 20% of truth (k=256)
    big = spark.createDataFrame(
        [("a", i) for i in range(20000)]
        + [("b", i) for i in range(10000, 30000)],
        "g string, v long",
    )
    r = sketch.kmv_overlap(big, "g", "v", k=256).collect()[0]
    assert r.exact_inter == 10000
    for est, truth in [
        (r.est_a, 20000),
        (r.est_b, 20000),
        (r.est_union, 30000),
        (r.est_inter, 10000),
    ]:
        assert abs(est - truth) / truth < 0.20, (est, truth)


def test_histogram_quantiles_multi_matches_per_measure(spark):
    """The one-pass N-measure unpivot must reproduce the per-measure
    sketch bit-for-bit (integral measures < 2^53 are exact in the
    double cast), and its plan must bound exchanges: two source-side
    aggregates + the bounded histogram window — never one pair per
    measure (the r7 ns_customer_rfm 18-exchange anti-pattern)."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    measures = ["l_quantity", "l_extendedprice", "l_discount"]
    multi = sketch.histogram_quantiles_multi(
        li, ["l_returnflag"], measures, quantiles=(0.25, 0.5, 0.75)
    )
    got = {
        (r["l_returnflag"], r["measure"], r["q"]): r["quantile_estimate"]
        for r in multi.collect()
    }
    for m in measures:
        single = sketch.histogram_quantiles(
            li.select("l_returnflag", F.col(m).cast("double").alias(m)),
            ["l_returnflag"],
            m,
            quantiles=(0.25, 0.5, 0.75),
        )
        for r in single.collect():
            assert (
                got[(r["l_returnflag"], m, r["q"])]
                == r["quantile_estimate"]
            ), (m, r)
    # plan guard: measure count must not multiply source aggregates
    # (count the AQE-final tree only; toString appends the pre-AQE
    # "== Initial Plan ==" section, double-printing every exchange)
    plan = multi._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 4


def _bkq_rows(df):
    return sorted(map(tuple, df.collect()))


def test_bkq_merge_is_lossless_for_any_split(spark):
    """The property KLL/t-digest lack and the reason bottom-k was
    chosen: for ANY partitioning of the rows into batches,
    merge(sketch(batch_i)) == sketch(all) EXACTLY — so per-day sketches
    compose without re-scan and without drift."""
    ev = _events(spark).select("event_type", "event_id", "value")
    whole = sketch.bkq_sketch(ev, ["event_type"], "event_id", "value", k=64)
    for nsplits in (2, 5):
        parts = [
            sketch.bkq_sketch(
                ev.filter(
                    F.crc32(F.col("event_id").cast("string")) % nsplits == i
                ),
                ["event_type"], "event_id", "value", k=64,
            )
            for i in range(nsplits)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        merged = sketch.bkq_merge(u, ["event_type"], k=64)
        assert _bkq_rows(merged) == _bkq_rows(whole), nsplits


def test_bkq_quantiles_bracket_truth_and_plan_group_limit(spark):
    """Sample quantiles land within ~4/sqrt(k) rank error of the exact
    quantile, exactly when the group fits in k; and the sketch's
    row_number<=k filter must compile to WindowGroupLimit (map-side
    partial top-k — the O(k·groups) shuffle contract)."""
    ev = _events(spark).select("event_type", "event_id", "value")
    k = 256
    sk = sketch.bkq_sketch(ev, ["event_type"], "event_id", "value", k=k)
    assert "WindowGroupLimit" in sk._jdf.queryExecution().executedPlan().toString()
    got = {
        (r["event_type"], r["q"]): r["quantile_estimate"]
        for r in sketch.bkq_quantiles(sk, ["event_type"], (0.5,)).collect()
    }
    # exact rank interval the estimate's value must fall inside
    import math
    tol = 4.0 / math.sqrt(k)
    vals = {}
    for r in ev.filter(F.col("value").isNotNull()).collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, xs in vals.items():
        xs.sort()
        n = len(xs)
        lo = xs[max(0, math.floor((0.5 - tol) * n) - 1)]
        hi = xs[min(n - 1, math.ceil((0.5 + tol) * n))]
        assert lo <= got[(et, 0.5)] <= hi, (et, lo, got[(et, 0.5)], hi)
        if n <= k:  # exact regime: estimate IS quantile_disc
            assert got[(et, 0.5)] == round(xs[math.ceil(0.5 * n) - 1], 6)


def test_bkq_store_twin_equals_batch_any_order(spark, tmp_path):
    """Persisted daily sketches through the streaming ingest must
    reproduce the batch quantiles-to-date for ANY file/arrival order
    (the lossless merge, end-to-end through the store); redelivery is
    a no-op and the fold compaction changes nothing."""
    import datetime as _dt

    from blinkit_etl_pipeline_spark.operators import incremental
    from blinkit_etl_pipeline_spark.streaming import file_source

    rows = []
    for d in range(4):
        day = _dt.date(2024, 2, d + 1)
        for i in range(150):
            rows.append((day, d * 1000 + i, float((i * 37 + d * 11) % 500)))
    ev = spark.createDataFrame(rows, "day date, event_id long, value double")
    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(3):  # hash-split drops: out-of-order days per drop
        ev.filter(F.crc32(F.col("event_id").cast("string")) % 3 == i)\
            .coalesce(1).write.parquet(str(raw / f"drop{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(raw / "drop*"))
    )
    store = str(tmp_path / "store")
    file_source.run_available_now(
        stream, str(tmp_path / "ckpt"),
        lambda df, epoch: incremental.ingest_bkq_sketch(
            df.sparkSession, store, df, "day", "event_id", "value", k=32
        ),
        timeout_sec=120,
    )
    want = sorted(
        map(tuple, sketch.bkq_cumulative_quantiles(
            ev, "day", "event_id", "value", quantiles=(0.5, 0.9), k=32
        ).collect())
    )
    got = sorted(
        map(tuple, incremental.bkq_store_cumulative_quantiles(
            spark, store).collect())
    )
    assert got == want
    # redelivery of a full drop: h-guard absorbs it
    drop0 = spark.read.parquet(str(raw / "drop0"))
    incremental.ingest_bkq_sketch(
        spark, store, drop0, "day", "event_id", "value"
    )
    assert sorted(
        map(tuple, incremental.bkq_store_cumulative_quantiles(
            spark, store).collect())
    ) == want
    # k mismatch fails loudly
    import pytest as _pytest

    from blinkit_etl_pipeline_spark.operators import snapshot
    with _pytest.raises(snapshot.SnapshotError, match="k=32"):
        incremental.ingest_bkq_sketch(
            spark, store, drop0, "day", "event_id", "value", k=64
        )
    # fold compaction: answers unchanged, rows bounded by k per day
    incremental.compact_bkq_store(spark, store)
    assert sorted(
        map(tuple, incremental.bkq_store_cumulative_quantiles(
            spark, store).collect())
    ) == want
    n = snapshot.read_snapshot(spark, store).count()
    assert n <= 32 * 4


def test_histogram_quantiles_ignore_null_values(spark):
    """NULL measures must not form a phantom bin (Spark sorts NULL
    bins FIRST, DuckDB LAST — an r8 review finding): estimates over a
    column with NULLs must equal estimates over the same column with
    the NULL rows dropped, in both the single- and multi-measure
    sketches."""
    rows = [("g", float(i)) for i in range(100)] + [("g", None)] * 40
    df = spark.createDataFrame(rows, "grp string, x double")
    clean = df.filter(F.col("x").isNotNull())
    got_s = sorted(
        map(tuple, sketch.histogram_quantiles(df, ["grp"], "x").collect())
    )
    want_s = sorted(
        map(tuple, sketch.histogram_quantiles(clean, ["grp"], "x").collect())
    )
    assert got_s == want_s
    got_m = sorted(
        map(
            tuple,
            sketch.histogram_quantiles_multi(df, ["grp"], ["x"]).collect(),
        )
    )
    want_m = sorted(
        map(
            tuple,
            sketch.histogram_quantiles_multi(
                clean, ["grp"], ["x"]
            ).collect(),
        )
    )
    assert got_m == want_m
    assert all(r[-1] is not None for r in got_m)


def test_bkq_prefix_merge_equals_leq_join_any_day_count(spark):
    """The log-depth Hillis–Steele prefix scan (r9, replacing the
    O(k·D²) ≤-join) must reproduce the ≤-join's merged sketches
    EXACTLY for every day count — including non-powers-of-two, D=1,
    and a day with no sketch rows of its own (all-NULL values), which
    must still receive the prefix of earlier days."""
    import datetime as _dt

    k = 8
    base = _dt.date(2024, 1, 1)
    for d_count in (1, 2, 3, 5, 8, 9):
        rows = []
        for d in range(d_count):
            day = base + _dt.timedelta(days=d)
            for i in range(20):
                # day index 3 carries only NULL values
                v = None if d == 3 else float((i * 7 + d * 13) % 50)
                rows.append((day, f"id-{d}-{i}", v))
        df = spark.createDataFrame(rows, "day date, id string, value double")
        daily = sketch.bkq_sketch(
            df, ["day"], "id", "value", k=k, hash_cols=("day", "id")
        )
        days = df.select("day").distinct()
        want = _bkq_rows(
            sketch.bkq_merge(
                daily.withColumnRenamed("day", "__sk_day")
                .join(days, F.col("__sk_day") <= F.col("day"))
                .drop("__sk_day"),
                ["day"],
                k,
            ).select("day", "h", "v")
        )
        got = _bkq_rows(
            sketch.bkq_prefix_merge(
                daily, "day", days, k, join_threshold=0
            ).select("day", "h", "v")
        )  # force the SCAN branch (default hybrid would take the join)
        assert got == want, d_count


def test_bkq_unique_id_guard_and_duplicate_bias(spark):
    """bkq_sketch's sample premise needs unique row ids: duplicated
    ids share ONE hash, so their rows enter (or miss) the bottom-k as
    a correlated block — cluster sampling on a single draw. The
    opt-in assert mode must fail loudly on such a frame; the silent
    default demonstrably biases (this test pins the flood the guard
    exists for: md5('dup') is the 2nd-smallest of the 61 hashes, so
    all 60 copies flood the k=64 sample)."""
    import pytest

    # 60 unique-id rows valued 0, plus 60 rows SHARING one id valued 100
    rows = [(f"u{i}", 0.0) for i in range(60)] + [("dup", 100.0)] * 60
    df = spark.createDataFrame(rows, "id string, value double").withColumn(
        "g", F.lit("g")
    )
    with pytest.raises(ValueError, match="not unique"):
        sketch.bkq_sketch(
            df, ["g"], "id", "value", k=64, assert_unique_ids=True
        )
    sk = sketch.bkq_sketch(df, ["g"], "id", "value", k=64)
    kept = sk.collect()
    # the duplicate block floods: 60 of the 64 kept rows are the one
    # id's copies (93.75% of the sample for 50% of the rows) — the
    # discrete true median is 0.0 (rank 60 of 120), the sample says 100
    assert len(kept) == 64
    assert sum(1 for r in kept if r["v"] == 100.0) == 60
    med = sketch.bkq_quantiles(sk, ["g"], (0.5,)).collect()[0]
    assert med["quantile_estimate"] == 100.0  # the bias, pinned


def test_bkq_cumulative_day_scoped_hash_draws_independently(spark):
    """r9 (ADVICE): the cumulative path hashes (day, id) so an entity
    id recurring on later days draws an independent hash per day —
    an id-only hash would keep the SAME low-hash entities every day,
    clustering the merged sample by entity. Pin: the same id's hash
    differs across days in the daily sketches the cumulative path
    builds, and the estimator stays calibrated on an entity-correlated
    stream (every entity re-observed daily)."""
    import datetime as _dt

    base = _dt.date(2024, 3, 1)
    rows = []
    for d in range(4):
        for e in range(200):
            # entity e reports value e every day — perfectly
            # entity-correlated values
            rows.append((base + _dt.timedelta(days=d), f"e{e}", float(e)))
    df = spark.createDataFrame(rows, "day date, id string, value double")
    daily = sketch.bkq_sketch(
        df, ["day"], "id", "value", k=64, hash_cols=("day", "id")
    )
    h_by_day = daily.filter(F.col("v") == 0.0).select("h").distinct().count()
    n_days = daily.filter(F.col("v") == 0.0).count()
    assert n_days >= 2 and h_by_day == n_days  # independent draws
    got = {
        r["q"]: r["quantile_estimate"]
        for r in sketch.bkq_cumulative_quantiles(
            df, "day", "id", "value", quantiles=(0.5,), k=64
        )
        .filter(F.col("day") == base + _dt.timedelta(days=3))
        .collect()
    }
    # true median of the cumulative rows is 99.5-ish (values 0..199
    # uniform); a k=64 sample has ~±12.5% rank error — the
    # entity-clustered failure mode would park far from the middle
    assert 60.0 <= got[0.5] <= 140.0


def test_bkq_prefix_merge_days_superset_folds_external_history(spark):
    """r9 review: sketch rows whose day is absent from the requested
    output set must still fold into LATER requested prefixes (the
    ≤-join semantics) — e.g. asking only for the last day still
    merges all earlier days' sketches."""
    import datetime as _dt

    base = _dt.date(2024, 5, 1)
    rows = [
        (base + _dt.timedelta(days=d), f"id-{d}-{i}", float(d * 10 + i))
        for d in range(4)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "day date, id string, value double")
    daily = sketch.bkq_sketch(
        df, ["day"], "id", "value", k=64, hash_cols=("day", "id")
    )
    last = df.select("day").filter(
        F.col("day") == base + _dt.timedelta(days=3)
    )
    got_scan = _bkq_rows(
        sketch.bkq_prefix_merge(
            daily, "day", last, 64, join_threshold=0
        ).select("day", "h", "v")
    )
    got_join = _bkq_rows(
        sketch.bkq_prefix_merge(daily, "day", last, 64).select(
            "day", "h", "v"
        )
    )
    want = _bkq_rows(
        sketch.bkq_merge(
            daily.withColumn(
                "day", F.lit(base + _dt.timedelta(days=3))
            ),
            ["day"],
            64,
        ).select("day", "h", "v")
    )
    assert got_scan == want and got_join == want
    assert len(want) == 20  # all four days' rows present


def test_bkq_store_hash_regime_pin(spark, tmp_path):
    """r9 review: a store whose history predates the (day, id) hash
    regime must refuse new ingests loudly — mixed-regime rows would
    double-enter under two hashes and bias the cumulative sample."""
    import datetime as _dt
    import os

    import pytest

    from blinkit_etl_pipeline_spark.operators import incremental, snapshot

    store = str(tmp_path / "bkq")
    df = spark.createDataFrame(
        [(_dt.date(2024, 1, 1), i, float(i)) for i in range(50)],
        "day date, event_id long, value double",
    )
    incremental.ingest_bkq_sketch(
        spark, store, df, "day", "event_id", "value", k=16
    )
    assert snapshot.table_properties(store)["bkq_hash"] == "day-id"
    # simulate a pre-regime store: drop the pin, keep the data
    os.unlink(os.path.join(store, snapshot.PROPS_DIR, "bkq_hash.json"))
    df2 = spark.createDataFrame(
        [(_dt.date(2024, 1, 2), i, float(i)) for i in range(50)],
        "day date, event_id long, value double",
    )
    with pytest.raises(snapshot.SnapshotError, match="hash"):
        incremental.ingest_bkq_sketch(
            spark, store, df2, "day", "event_id", "value"
        )


def test_rebuild_bkq_store_migrates_pre_regime_store(spark, tmp_path):
    """r10 (r9 ADVICE): the loud format-gate raise points at a
    working escape hatch — rebuild_bkq_store replays the SOURCE under
    the current (day,id) regime, moves the old store aside (kept for
    pinned readers), inherits the pinned k, and the rebuilt store's
    reads equal the batch recompute. Guard rails: no store → raise;
    already-migrated store → raise; leftover backup → raise."""
    import datetime as _dt
    import os

    import pytest

    from blinkit_etl_pipeline_spark.operators import incremental, snapshot

    store = str(tmp_path / "bkq")
    with pytest.raises(snapshot.SnapshotError, match="nothing to migrate"):
        incremental.rebuild_bkq_store(
            spark, store, None, "day", "event_id", "value"
        )
    src = spark.createDataFrame(
        [
            (_dt.date(2024, 1, d), i, float((i * 31 + d * 7) % 200))
            for d in (1, 2)
            for i in range(60)
        ],
        "day date, event_id long, value double",
    )
    incremental.ingest_bkq_sketch(
        spark, store, src, "day", "event_id", "value", k=16
    )
    with pytest.raises(snapshot.SnapshotError, match="already on"):
        incremental.rebuild_bkq_store(
            spark, store, src, "day", "event_id", "value"
        )
    # simulate a pre-regime store: drop the pin, keep the data
    os.unlink(os.path.join(store, snapshot.PROPS_DIR, "bkq_hash.json"))
    incremental.rebuild_bkq_store(
        spark, store, src, "day", "event_id", "value"
    )
    assert os.path.isdir(store + ".pre-day-id")
    props = snapshot.table_properties(store)
    assert props["bkq_hash"] == "day-id" and int(props["bkq_k"]) == 16
    want = sorted(
        map(
            tuple,
            sketch.bkq_cumulative_quantiles(
                src, "day", "event_id", "value", quantiles=(0.5, 0.9), k=16
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, incremental.bkq_store_cumulative_quantiles(
            spark, store).collect())
    )
    assert got == want
    # a second interrupted-migration attempt trips the backup guard
    os.unlink(os.path.join(store, snapshot.PROPS_DIR, "bkq_hash.json"))
    with pytest.raises(snapshot.SnapshotError, match="backup"):
        incremental.rebuild_bkq_store(
            spark, store, src, "day", "event_id", "value"
        )
