"""Scale techniques, asserted at the plan level: bucketed co-located
joins (no exchange), salted skew joins (same results), partition
pruning (pruned scan), observation metrics (no extra scan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from blinkit_etl_pipeline_spark.operators import joins
from blinkit_etl_pipeline_spark.sources import metrics, sinks
from blinkit_etl_pipeline_spark.sources.testdata import register_blinkit

from conftest import SF_SMOKE


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    t = register_blinkit(spark, SF_SMOKE)
    items = t["b_order_items"]
    orders = t["b_orders"]

    sinks.write_bucketed(items, "b_items_bkt", "order_id", n_buckets=4)
    sinks.write_bucketed(orders, "b_orders_bkt", "order_id", n_buckets=4)
    left = spark.table("b_items_bkt")
    right = spark.table("b_orders_bkt")

    # force SMJ so the test asserts bucket co-location, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left.join(right, "order_id")
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == left.join(right, "order_id").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_items_bkt")
        spark.sql("DROP TABLE IF EXISTS b_orders_bkt")


def test_salted_join_matches_plain_join(spark):
    t = register_blinkit(spark, SF_SMOKE)
    items = t["b_order_items"].select("order_id", "product_id", "quantity")
    orders = t["b_orders"].select("order_id", "customer_id")

    plain = items.join(orders, "order_id")
    salted = joins.salted_join(items, orders, "order_id", salt_buckets=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_partition_pruning(spark, tmp_path):
    t = register_blinkit(spark, SF_SMOKE)
    from blinkit_etl_pipeline_spark.pipelines import sales_revenue

    fact = sales_revenue.sales_fact(
        t["b_orders"], t["b_order_items"], t["b_products"]
    )
    path = str(tmp_path / "fact")
    sinks.write_partitioned(fact, path)

    back = spark.read.parquet(path)
    one_month = back.filter((F.col("year") == 1995) & (F.col("month") == 3))
    plan = _physical_plan(one_month)
    # partition filters applied at the scan — not a post-scan Filter
    assert "PartitionFilters: [" in plan
    assert "isnotnull(year" in plan or "(year" in plan
    assert one_month.count() == fact.filter(
        (F.col("year") == 1995) & (F.col("month") == 3)
    ).count()


def test_observation_counts_without_extra_scan(spark):
    t = register_blinkit(spark, SF_SMOKE)
    df, obs = metrics.with_row_count(t["b_order_items"], "items_rows")
    df.write.format("noop").mode("overwrite").save()  # the one action
    assert metrics.get_count(obs) == t["b_order_items"].count()


def test_two_phase_salted_join_matches_and_skips_cold_replication(spark):
    """Guarded salting: identical results to a plain join; the hot/cold
    split is a broadcast semi/anti partition (r4 spelling — the hot-key
    set never touches the driver), so only the hot branch replicates
    and the cold branch joins plain. The explode branch always exists
    in the plan but executes on zero rows when no key crosses the
    threshold."""
    t = register_blinkit(spark, SF_SMOKE)
    items = t["b_order_items"].select("order_id", "product_id", "quantity")
    orders = t["b_orders"].select("order_id", "customer_id")
    # plant a hot key: replicate one order's items 200x
    one = items.limit(1)
    hot_items = items.unionAll(
        one.crossJoin(spark.range(200).select(F.lit(1).alias("__x"))).drop("__x")
    )

    plain = hot_items.join(orders, "order_id")
    guarded = joins.salted_join(
        hot_items, orders, "order_id", salt_buckets=4, hot_threshold=100
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, guarded.collect())
    )
    plan = _physical_plan(guarded)
    # the hot branch replicates; the split is semi/anti, not isin literals
    assert "Generate explode" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert " IN (" not in plan, plan[:2000]

    # threshold nobody crosses -> identical to the plain join (the hot
    # semi branch selects zero rows; correctness of this case is also
    # property-tested across thresholds in test_properties.py)
    cold_only = joins.salted_join(
        items, orders, "order_id", salt_buckets=4, hot_threshold=10_000_000
    )
    assert cold_only.count() == items.join(orders, "order_id").count()


def _recon_frames(spark, hot_rows=0):
    """Inventory-like frames keyed (product_id, date); optionally plant
    a hot product_id on both sides (left side replicated hot_rows x)."""
    # (product_id, date) unique by construction — no dropDuplicates, so
    # the join plans its own exchanges (an aggregate's reused partitioning
    # would put HashAggregate between shuffle and join, and AQE's skew
    # matcher only fires on SMJ(Sort(Shuffle), Sort(Shuffle)) directly)
    left = spark.range(5000).select(
        F.concat(F.lit("p"), (F.col("id") % 900).cast("string")).alias("product_id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") / 900).cast("int")).alias("date"),
        (F.col("id") * 3 % 100).cast("int").alias("stock_received"),
    )
    right = spark.range(5000).select(
        F.concat(F.lit("p"), ((F.col("id") + 300) % 1100).cast("string")).alias("product_id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") / 1100).cast("int")).alias("date"),
        (F.col("id") * 7 % 100).cast("int").alias("stock_remaining"),
    )
    if hot_rows:
        hot = spark.range(hot_rows).select(
            F.lit("hotkey").alias("product_id"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 2).cast("int")).alias("date"),
            (F.col("id") % 100).cast("int").alias("stock_received"),
        )
        left = left.unionByName(hot)
    return left, right


def test_full_outer_via_union_matches_full_outer(spark):
    left, right = _recon_frames(spark)
    a = joins.full_outer_coalesce_keys(left, right, ["product_id", "date"])
    b = joins.full_outer_via_union(left, right, ["product_id", "date"])
    assert sorted(a.columns) == sorted(b.columns)
    cols = sorted(a.columns)
    none_safe = lambda row: tuple((v is None, v) for v in row)
    ra = sorted(map(tuple, a.select(*cols).collect()), key=none_safe)
    rb = sorted(map(tuple, b.select(*cols).collect()), key=none_safe)
    assert ra == rb


def test_full_outer_via_union_reengages_aqe_skew_split(spark):
    """A planted hot key in the reconciliation shape triggers AQE's
    skew-split on the decomposed join (impossible for plain FULL OUTER,
    which AQE cannot split)."""
    left, right = _recon_frames(spark, hot_rows=300_000)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        # the session default follows the core count; at 4 partitions
        # the hot key's partition is not split
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        out = joins.full_outer_via_union(left, right, ["product_id", "date"])
        # collect() (not count()/noop-write — those build their OWN query
        # execution) so AQE finalizes this DataFrame's plan
        n = len(out.collect())
        plan = _physical_plan(out)
        assert "skew=true" in plan, plan[:4000]
        # values still correct under the skew split
        expect = joins.full_outer_coalesce_keys(left, right, ["product_id", "date"])
        assert n == expect.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_two_phase_salted_join_preserves_null_keys_on_left(spark):
    """ADVICE r2: NULL-key left rows must survive the hot/cold split —
    ``~isin`` alone evaluates NULL and silently drops them."""
    left = spark.createDataFrame(
        [("k1", 1)] * 50 + [(None, 2), (None, 3), ("k2", 4)],
        "key string, v int",
    )
    right = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), (None, "never-matches")], "key string, tag string"
    )
    plain = left.join(right, "key", "left")
    guarded = joins.salted_join(
        left, right, "key", salt_buckets=4, how="left", hot_threshold=10
    )
    nullsafe = lambda rows: sorted(  # noqa: E731 — None-tolerant row sort
        map(tuple, rows), key=lambda t: tuple((x is None, x) for x in t)
    )
    assert nullsafe(plain.collect()) == nullsafe(guarded.collect())
    # the NULL-key rows specifically are present with NULL right columns
    nulls = [r for r in guarded.collect() if r["key"] is None]
    assert len(nulls) == 2 and all(r["tag"] is None for r in nulls)


def test_range_clustered_layout_is_skippable(spark, tmp_path):
    """write_range_clustered must produce files with DISJOINT ranges
    and sorted row groups, so a range predicate touches a small
    fraction of row groups (footer-stat evidence, not vibes)."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "ev_clustered")
    sinks.write_range_clustered(
        ev, path, ["event_id"], num_files=4, rowgroup_bytes=64 * 1024
    )

    stats = sinks.rowgroup_stats(path, "event_id")
    assert len({s["file"] for s in stats}) == 4
    # row groups, ordered by (file, row_group), form non-overlapping
    # ascending intervals: every group's min exceeds the previous max
    ordered = sorted(stats, key=lambda s: (s["min"], s["max"]))
    by_pos = sorted(stats, key=lambda s: (s["file"], s["row_group"]))
    assert ordered == by_pos
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur["min"] > prev["max"], (prev, cur)

    # a mid-range predicate overlaps few groups in the clustered layout
    lo = ordered[len(ordered) // 2]["min"]
    hi = ordered[len(ordered) // 2]["max"]
    touched = sum(
        1 for s in stats if not (s["max"] < lo or s["min"] > hi)
    )
    assert touched <= max(1, len(stats) // 4), (touched, len(stats))

    # and the clustered copy is lossless + the scan pushes the filter
    back = spark.read.parquet(path)
    q = back.filter((F.col("event_id") >= lo) & (F.col("event_id") <= hi))
    assert "PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id," in _physical_plan(q)
    expect = ev.filter(
        (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    ).count()
    assert q.count() == expect
    assert back.count() == ev.count()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Spark's runtime row-level bloom filter must inject on the fact
    side of a selective shuffle join (the 100 TB decontamination/
    enrichment shape: scan-side rows that can't match never shuffle).
    Asserts the injected aggregate + probe AND result equality."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    dim = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .filter(F.col("c_mktsegment") == "BUILDING")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = ev.join(dim, "user_id")
        plan = _physical_plan(joined)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        n_bloom = joined.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = ev.join(dim, "user_id")
    assert "might_contain" not in _physical_plan(plain)
    assert n_bloom == plain.count()


def test_key_skew_profile_plans_topn_and_flags_planted_hot_key(spark):
    from blinkit_etl_pipeline_spark.operators import profile

    base = spark.range(1000).select((F.col("id") % 100).alias("k"))
    hot = spark.range(400).select(F.lit(7).cast("bigint").alias("k"))
    df = base.unionByName(hot)
    prof = profile.key_skew_profile(df, ["k"], top_n=5)
    plan = _physical_plan(prof)
    assert "TakeOrderedAndProject" in plan  # top-N, not a global sort
    rows = prof.collect()
    assert rows[0]["k"] == 7 and rows[0]["key_count"] == 410
    assert abs(rows[0]["share"] - 410 / 1400) < 1e-6
    # 100 distinct keys: uniform would be 14 rows each → ratio ≈ 29x
    assert rows[0]["skew_ratio"] > 25
    assert all(abs(r["skew_ratio"] - 10 / 14) < 1e-5 for r in rows[1:])


def test_global_prefix_sum_is_partition_count_invariant(spark):
    """The two-phase distributed prefix sum must produce the same
    running totals regardless of how many range partitions it uses —
    that equality IS the scalability argument (a global window would
    serialize; this doesn't, and loses nothing)."""
    from blinkit_etl_pipeline_spark.operators import pack

    df = spark.range(1000).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 13 + 1).alias("v")
    )
    a = sorted(
        map(tuple, pack.global_prefix_sum(df, "k", "v", num_ranges=1).collect())
    )
    b = sorted(
        map(tuple, pack.global_prefix_sum(df, "k", "v", num_ranges=8).collect())
    )
    assert a == b
    # spot-check exactness at the head and tail
    head = dict((r[0], r[2]) for r in a[:3])
    assert head[0] == 1  # (0*7)%13+1
    total = sum(((i * 7) % 13 + 1) for i in range(1000))
    assert a[-1][2] == total


def test_pack_sequences_budget_boundaries(spark):
    from blinkit_etl_pipeline_spark.operators import pack

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate([3, 4, 5, 2, 6])],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in pack.pack_sequences(docs, budget=5, num_ranges=2).collect()
    }
    # cum: 3, 7, 12, 14, 20; starts: 0, 3, 7, 12, 14
    assert [rows[i]["cum_tokens"] for i in range(5)] == [3, 7, 12, 14, 20]
    assert [rows[i]["seq_id"] for i in range(5)] == [0, 0, 1, 2, 2]
    assert [rows[i]["offset_in_seq"] for i in range(5)] == [0, 3, 2, 2, 4]


def test_table_stats_profile_counts_nulls_and_ranges(spark):
    from blinkit_etl_pipeline_spark.operators import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (10, "b"), (None, "a")],
        "n bigint, s string",
    )
    rows = {r["column"]: r for r in profile.table_stats(df).collect()}
    n = rows["n"]
    assert (n["n_rows"], n["n_nulls"]) == (4, 1)
    assert abs(n["null_frac"] - 0.25) < 1e-9
    # native-typed min/max: numeric, not lexicographic ("10" < "9")
    assert (n["min_value"], n["max_value"]) == ("1", "10")
    assert abs(n["distinct_est"] - 3) < 1.0  # HLL on 3 values
    s = rows["s"]
    assert (s["n_nulls"], s["min_value"], s["max_value"]) == (1, "a", "b")


def test_pack_sequences_null_text_counts_zero_tokens(spark):
    from blinkit_etl_pipeline_spark.operators import pack

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e")], "doc_id bigint, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in pack.pack_sequences(docs, budget=4, num_ranges=2).collect()
    }
    assert rows[1]["n_tokens"] == 0  # not -1, not a corrupted sum
    assert [rows[i]["cum_tokens"] for i in range(3)] == [3, 3, 5]


def test_parity_spine_plans_broadcast_dims_and_bounded_exchanges(spark):
    """The parity spine's dimension joins must broadcast at test scale
    (no shuffled fact side), with the exchange budget pinned — the
    sf10 audit (PLANS.md) shows AQE switching the grown dim to a
    sort-merge join when it outgrows the threshold, which is the
    correct adaptive behavior; THIS guard pins the small-dim shape so
    a regression that shuffles the fact at every scale fails CI."""
    from blinkit_etl_pipeline_spark.plans import parity

    from conftest import SF_SMOKE

    expectations = {"sales_fact": 4, "customer_metrics": 8}
    for name, max_exch in expectations.items():
        df = parity.QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2, f"{name}: dims must broadcast"
        assert plan.count("SortMergeJoin") == 0, f"{name}: fact side shuffled"
        assert plan.count("Exchange") <= max_exch, (
            f"{name}: exchange budget exceeded\n" + plan[:2000]
        )


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic range clustering on a 2-D key: for a
    box predicate on (x, y), the z-ordered layout must offer row-group
    skipping on BOTH columns, while the lexicographic layout's
    trailing column stats span the domain and skip ~nothing."""
    from blinkit_etl_pipeline_spark.sources import sinks

    n, side = 1 << 16, 1 << 8
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "lex")
    sinks.write_zorder_clustered(
        df, zpath, ["x", "y"], num_files=4, bits=8, rowgroup_bytes=16_000
    )
    sinks.write_range_clustered(
        df, rpath, ["x", "y"], num_files=4, rowgroup_bytes=16_000
    )

    def surviving_fraction(path, lo, hi):
        """Fraction of row groups whose [min,max] intersects [lo,hi] on
        BOTH x and y (conjunctive box predicate)."""
        by_col = {
            c: {
                (s["file"], s["row_group"]): (s["min"], s["max"])
                for s in sinks.rowgroup_stats(path, c)
            }
            for c in ("x", "y")
        }
        groups = by_col["x"].keys()
        hit = sum(
            1
            for g in groups
            if by_col["x"][g][0] <= hi and by_col["x"][g][1] >= lo
            and by_col["y"][g][0] <= hi and by_col["y"][g][1] >= lo
        )
        return hit / len(by_col["x"]), len(by_col["x"])

    zfrac, zgroups = surviving_fraction(zpath, 0, 15)  # 1/16 of each side
    rfrac, rgroups = surviving_fraction(rpath, 0, 15)
    assert zgroups >= 8 and rgroups >= 8  # enough granularity to mean anything
    # z-order: a (1/8)^2 box touches a small fraction of groups;
    # lexicographic: y-stats span the domain -> x-pruning only at best
    assert zfrac <= 0.25, (zfrac, zgroups)
    assert zfrac < rfrac / 2, (zfrac, rfrac)
    # correctness: both layouts return the identical box contents
    zbox = spark.read.parquet(zpath).filter(
        "x between 0 and 15 and y between 0 and 15"
    )
    rbox = spark.read.parquet(rpath).filter(
        "x between 0 and 15 and y between 0 and 15"
    )
    assert sorted(map(tuple, zbox.collect())) == sorted(map(tuple, rbox.collect()))
    assert zbox.count() == 16 * 16


def test_zorder_value_validates_inputs(spark):
    import pytest

    from blinkit_etl_pipeline_spark.sources import sinks

    with pytest.raises(ValueError):
        sinks.zorder_value([F.lit(1)] * 4)
    with pytest.raises(ValueError):
        sinks.zorder_value([F.lit(1), F.lit(2)], bits=32)
    df = spark.range(4).select(sinks.zorder_value([F.col("id")], bits=2).alias("z"))
    with pytest.raises(Exception, match="zorder_value"):
        spark.range(5).select(
            sinks.zorder_value([F.col("id")], bits=2).alias("z")
        ).collect()  # id=4 outside [0, 4)
    assert [r["z"] for r in df.collect()] == [0, 1, 2, 3]
