"""SparkSession factory.

Scale-oriented defaults (designed for a multi-executor cluster, tested on
local[N]):

- AQE on (runtime partition coalescing + skew-join splitting) — the
  reference's full-outer inventory join on ``(product_id, date)`` is the
  documented skew risk (SURVEY.md §4.4).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC parquet timestamps).
- Arrow enabled for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(ram_bytes: int | None) -> str:
    """Driver heap for ``ram_bytes`` of physical RAM: 16g, but never
    more than three quarters of the box (the JVM's off-heap, the Python
    workers and the OS need the rest). Unknown RAM keeps 16g."""
    cap_mib = 16 * 1024
    if ram_bytes:
        cap_mib = min(cap_mib, ram_bytes * 3 // 4 // (1 << 20))
    return f"{cap_mib}m"


def physical_ram_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return None


def get_session(app_name: str = "blinkit_etl_pipeline_spark") -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long, convert in sources/testdata.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs everything in the driver JVM, whose default 1g
        # heap OOMs under 32 concurrent tasks + broadcast builds well
        # before the box's RAM is used; on a real cluster the
        # submitter's --driver-memory/--executor-memory win instead
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(physical_ram_bytes()),
        )
        # catalog state (bucketed tables, derby metastore) out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/blinkit-spark-warehouse")
        # -Xss8m: the r13 IN-list scan pushdown (_pruned_read_ids,
        # capped at _ISIN_PUSHDOWN_MAX=768 values — see
        # tests/test_incremental.py::test_pruned_read_ids_id_list_sizes)
        # makes Spark/parquet-mr build and evaluate the pushed
        # predicate as a LEFT-DEEP OR tree, recursively — at the JVM
        # default ~1m thread stack the task thread overflows somewhere
        # in (1024, 2048] values (measured; bench r13 hit it at sf0.1
        # via publish_graph_incremental's takedown closure). The 768
        # cap alone keeps a VANILLA session (the driver's correctness
        # gate) safe; 8m is headroom for future cap raises (~10× the
        # measured-safe depth). local[N] tasks run on driver JVM
        # threads, and a real cluster overflows identically in
        # executor threads — so BOTH options carry it (r14, VERDICT
        # r13 #7; the executor option is inert on local[N] and
        # inherited by executors on any master).
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/blinkit-derby -Xss8m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXECUTOR_OPTS", "-Xss8m"),
        )
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
