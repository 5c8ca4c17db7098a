"""Runner contract: routing (C1), statuses (C2-C3), medallion writes +
catalog refresh (C4), and the six analytic queries end-to-end."""

from __future__ import annotations

import pytest

from blinkit_etl_pipeline_spark import runner

from conftest import SF_SMOKE


@pytest.mark.parametrize(
    ("filename", "expected"),
    [
        ("raw/orders_2024.csv", [runner.JOB_SALES, runner.JOB_DELIVERY]),
        ("PRODUCTS_new.csv", [runner.JOB_SALES, runner.JOB_DELIVERY]),
        ("customer_feedback.csv", [runner.JOB_FEEDBACK]),
        ("marketing_spend.csv", [runner.JOB_MARKETING]),
        ("inventoryNew_jan.csv", [runner.JOB_INVENTORY]),
        # catch-all: unrecognized → every job (reference lambda:52)
        ("mystery_dump.csv", list(runner.ALL_JOBS)),
        # multiple needles, dedup preserved in routing order
        ("order_product_merge.csv", [runner.JOB_SALES, runner.JOB_DELIVERY]),
    ],
)
def test_routing(filename, expected):
    assert runner.determine_jobs_to_run(filename) == expected


def test_full_run_and_analytics(spark, tmp_path):
    conf = runner.RunnerConfig(sf_dir=SF_SMOKE, out_dir=str(tmp_path))
    report = runner.run_jobs_sequential(spark, conf, list(runner.ALL_JOBS))
    assert report.overall == "ok", report.errors

    # C4: every curated view queryable; all six analytic queries run
    results = runner.run_analytics(spark)
    for name, df in results.items():
        assert df.count() > 0, f"{name} returned no rows"

    # processed zone is date-partitioned on disk (S5 layout)
    parts = list((tmp_path / "processed" / "sales_transactions").glob("year=*"))
    assert parts, "expected hive-style year= partitions"


def test_partial_failure_status(spark, tmp_path):
    conf = runner.RunnerConfig(sf_dir=SF_SMOKE, out_dir=str(tmp_path))
    original = runner.JOBS[runner.JOB_DELIVERY]
    runner.JOBS[runner.JOB_DELIVERY] = lambda s, c: (_ for _ in ()).throw(
        RuntimeError("boom")
    )
    try:
        report = runner.run_jobs_sequential(
            spark, conf, [runner.JOB_DELIVERY, runner.JOB_SALES]
        )
    finally:
        runner.JOBS[runner.JOB_DELIVERY] = original
    assert report.statuses[runner.JOB_DELIVERY] == "failed"
    assert report.statuses[runner.JOB_SALES] == "succeeded"  # still ran
    assert report.overall == "partial"
    assert "boom" in report.errors[runner.JOB_DELIVERY]


def test_stack_size_on_both_sides(spark):
    """-Xss8m must ride BOTH driver and executor JVM options (r14,
    VERDICT r13 #7): local[N] tasks run on driver threads, but a real
    cluster evaluates the pushed IN-list OR-tree in executor threads
    and overflows identically without it."""
    conf = spark.sparkContext.getConf()
    assert "-Xss8m" in (conf.get("spark.driver.extraJavaOptions") or "")
    assert "-Xss8m" in (conf.get("spark.executor.extraJavaOptions") or "")


def test_jit_threads_and_codegen_cache_reach_the_jvm(spark):
    """The running driver JVM has the derived compiler-thread count
    (HotSpot's own choice at 4 cores is 3), and the session the
    static codegen cache size."""
    from blinkit_etl_pipeline_spark import session

    jvm = spark._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    threads = session.jit_compiler_threads(session.default_parallelism())
    assert hotspot.getVMOption("CICompilerCount").getValue() == str(threads)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


#: Spark jobs of a batch refresh of all five jobs over the smoke data,
#: once the source tables are registered: C4 starts none of them (a bare
#: ``spark.read.parquet`` per curated view would add 6 schema jobs)
WARM_BATCH_JOBS = 39


def _counted_batch_run(spark, out):
    """A batch refresh of all five jobs into ``out``: (report, Spark
    jobs it started, JVM counter deltas)."""
    from blinkit_etl_pipeline_spark import session

    sc = spark.sparkContext
    conf = runner.RunnerConfig(sf_dir=SF_SMOKE, out_dir=str(out))
    group = f"batch-run-{out.name}"
    before = session.jvm_counters(spark)
    sc.setJobGroup(group, group, False)
    try:
        report = runner.run_jobs_sequential(spark, conf, list(runner.ALL_JOBS))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = session.jvm_counters(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return report, jobs, {k: after[k] - before[k] for k in after}


@pytest.fixture(scope="module")
def warm_batch_run(spark, tmp_path_factory):
    """The second of two batch refreshes into fresh directories:
    (out_dir, report, Spark jobs, JVM counter deltas)."""
    _counted_batch_run(spark, tmp_path_factory.mktemp("cold-batch"))
    out = tmp_path_factory.mktemp("warm-batch")
    return (out, *_counted_batch_run(spark, out))


def test_warm_batch_run_hits_the_codegen_cache(warm_batch_run):
    """A repeated refresh finds its ~150 generated classes in the
    codegen cache instead of recompiling them."""
    _, report, _, cost = warm_batch_run
    assert report.overall == "ok", report.errors
    assert cost["codegen_compiles"] <= 10, cost


def test_view_registration_starts_no_job(spark, warm_batch_run):
    """C4 registers each curated view without a schema-inference job,
    and the view equals a bare read of the written table."""
    out, report, jobs, _ = warm_batch_run
    assert report.overall == "ok", report.errors
    assert jobs == WARM_BATCH_JOBS
    for spec in runner.JOB_TABLE:
        for c in spec.curated:
            bare = spark.read.parquet(str(out / "curated" / c.name))
            view = spark.table(c.view)
            assert view.schema == bare.schema, c.view
            assert sorted(view.collect(), key=repr) == sorted(
                bare.collect(), key=repr
            ), c.view


def test_jvm_counters_grow_with_work(spark):
    from blinkit_etl_pipeline_spark import session

    before = session.jvm_counters(spark)
    # a plan shape no other test compiles
    spark.range(50).selectExpr("id * 7919 % 13 AS jvm_counters_probe").collect()
    after = session.jvm_counters(spark)
    assert set(before) == {
        "jit_ms", "classes_loaded", "gc_ms", "codegen_compiles", "codegen_ms"
    }
    assert all(after[k] >= before[k] for k in before)
    assert after["codegen_compiles"] > before["codegen_compiles"]


def test_driver_memory_default_fits_the_box():
    """The driver heap defaults to 16g, capped at three quarters of
    physical RAM (a 16g heap on a 15 GB box invites the OOM killer)."""
    from blinkit_etl_pipeline_spark import session

    gib = 1 << 30
    assert session.default_driver_memory(15 * gib) == "11520m"
    assert session.default_driver_memory(64 * gib) == "16384m"
    assert session.default_driver_memory(None) == "16384m"
    assert session.physical_ram_bytes() > 0


# ---------------------------------------------------------------------------
# The job table: one declaration drives batch, incremental and streaming
# ---------------------------------------------------------------------------


def _curated_views(spark) -> set[str]:
    return {
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("curated_")
    }


def _drop_curated_views(spark) -> None:
    for view in _curated_views(spark):
        spark.catalog.dropTempView(view)


@pytest.fixture(scope="module")
def batch_run(spark, tmp_path_factory):
    """One batch refresh over the smoke data: (report, out_dir, views)."""
    out = tmp_path_factory.mktemp("batch")
    _drop_curated_views(spark)
    conf = runner.RunnerConfig(sf_dir=SF_SMOKE, out_dir=str(out))
    report = runner.run_jobs_sequential(spark, conf, list(runner.ALL_JOBS))
    return report, out, _curated_views(spark)


def test_job_table_tables_have_ivm_specs():
    from blinkit_etl_pipeline_spark.operators import curated

    for spec in runner.JOB_TABLE:
        assert spec.curated, spec.name
        for c in spec.curated:
            assert c.table in curated.SPECS, (spec.name, c.table)
    assert len(runner.CURATED_VIEWS) == 6


def test_streaming_prefixes_route_to_job_stores():
    from blinkit_etl_pipeline_spark.streaming import curated_ingest

    routed = {
        source: runner.CURATED_TABLES[job]
        for source, job in curated_ingest.SOURCE_JOBS.items()
    }
    assert routed == {
        "marketing": ("campaign_summary",),
        "orders": ("delivery_partner",),
        "inventory": ("category_impact", "product_discrepancies"),
        "feedback": ("area_feedback",),
    }


def test_batch_and_incremental_register_the_same_views(
    spark, batch_run, tmp_path
):
    report, _, batch_views = batch_run
    assert report.overall == "ok", report.errors
    assert batch_views == set(runner.CURATED_VIEWS.values())

    from blinkit_etl_pipeline_spark.sources.testdata import register_blinkit

    t = register_blinkit(spark, SF_SMOKE)
    inputs = {k.removeprefix("b_"): v for k, v in t.items()}
    _drop_curated_views(spark)
    # an unrecognized name routes every job (C1 catch-all)
    r = runner.handle_new_file_incremental(
        spark, str(tmp_path / "stores"), "full_dump.parquet", inputs
    )
    assert r.overall == "ok", r.errors
    assert _curated_views(spark) == batch_views


def test_row_counts_match_processed_sinks(spark, batch_run):
    report, out, _ = batch_run
    with_sink = [s for s in runner.JOB_TABLE if s.processed is not None]
    assert set(report.row_counts) == {s.name for s in with_sink}
    for spec in with_sink:
        sink = out / "processed" / spec.processed.dir
        assert report.row_counts[spec.name] == spark.read.parquet(str(sink)).count()
        assert report.row_counts[spec.name] > 0, spec.name
