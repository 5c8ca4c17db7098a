"""SparkSession factory, and the per-call session for contract-bounded
loop frames.

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
- Parquet IN-list pushdown up to ``ISIN_PUSHDOWN_MAX`` values. Like every
  setting here it is made once, when the session is built; no operator
  changes a session's conf at run time.

Compile cost. A batch refresh or a drop round runs ~200 distinct
whole-stage plans over a few hundred rows each, so on a cold JVM the
compilers, not the data, take most of the CPU: about 60 % of a cold
perfbench iteration's CPU time was JIT compilation, summed over the
compiler threads (4 vCPUs, all three workloads). Two settings cut it:

- ``-XX:CICompilerCount`` (:func:`jit_compiler_threads`, one JIT thread
  per four cores, at least 2). HotSpot's own choice at 4 vCPUs is 3
  (one C1, two C2 threads), and the two C2 threads compete with the 4
  task threads; a JFR recording of a batch_etl run put 46 s of C2 time
  across Janino, Java serialization, Catalyst, Parquet and Scala, with
  no single package dominating. With 2 threads (and the codegen cache
  below), a cold perfbench iteration's CPU time fell from 65.1 to
  53.3 s on batch_etl (also with ``runner``'s job-free view
  registration), 53.2 → 43.0 s on incremental_drops and 62.6 → 53.1 s
  on corpus_curation, and summed JIT time by a third or more (medians
  of 10 alternating pairs); wall times moved by less than their
  spread.
  Measured only at 4 vCPUs; other core counts are not measured. Only
  the driver carries the flag: on ``local[N]`` it is the only JVM, and
  executor JIT on a cluster is not measured.
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
  (static; Spark's default is 100). The ~200 plan shapes of one batch
  refresh thrash a 100-entry cache, so every warm refresh recompiled
  ~186 classes; at 2000 a warm refresh compiles a handful. That serves
  long-lived sessions (streaming, test suites, warm traced runs), not
  the first, cold iteration.

C1-only tiering (``-XX:TieredStopAtLevel=1``) is not used: it halved
the cold iterations' CPU time, but a warm corpus_curation iteration
went from 6.4 to 8.7 s, with ``operators.dedup`` self time 3.5 → 5.1 s,
since C1 code is slower once the work is steady.

The iterative operators' round loops (pagerank delta, graph walks, MMR)
build their contract-bounded frames through :func:`bounded_call`, which
plans them non-adaptively in a clone of the caller's session; the
caller's session conf is never changed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: static shuffle partition count for the exchanges of contract-bounded
#: frames (|Q|·beam·k, |Q|·C, frontier caps): single-digit partitions
#: suffice at ANY corpus size
BOUNDED_SHUFFLE_PARTITIONS = 4

#: max literal values pushed into a parquet scan as an IN-list (the
#: session's ``spark.sql.parquet.pushdown.inFilterThreshold``; above
#: it Spark pushes only min..max). Spark/parquet-mr build a pushed IN
#: as a LEFT-DEEP OR tree and evaluate it recursively: at the JVM
#: default ~1m thread stack the task overflows somewhere in
#: (1024, 2048] values (measured; the sf0.1 bench hit it via a
#: takedown closure). 768 keeps 25% margin below the measured-safe
#: 1024 even without the -Xss8m below; beyond ~hundreds of values the
#: page-pruning win over manifest file pruning is marginal anyway.
ISIN_PUSHDOWN_MAX = 768


#: static ``spark.sql.codegen.cache.maxEntries``: above the ~200
#: distinct whole-stage plans one batch refresh compiles (module doc)
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def jit_compiler_threads(cpus: int) -> int:
    """The driver's ``-XX:CICompilerCount``: one JIT compiler thread per
    four cores, and at least the two (one C1, one C2) tiered
    compilation needs (module doc)."""
    return max(2, cpus // 4)


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
        .config(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(ISIN_PUSHDOWN_MAX),
        )
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
        # -Xss8m: headroom for the pushed IN-lists above
        # (ISIN_PUSHDOWN_MAX documents the stack depth they need; the
        # 768 cap alone keeps the default ~1m stack safe, 8m allows
        # ~10× deeper — see tests/test_incremental.py::
        # test_pruned_read_ids_id_list_sizes). A session not built
        # here keeps Spark's default
        # inFilterThreshold of 10, which only narrows pushdown to
        # min..max and never changes results. local[N] tasks run on
        # driver JVM threads, and a real cluster overflows identically
        # in executor threads — so BOTH options carry it (the executor
        # option is inert on local[N] and inherited by executors on any
        # master).
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.system.home=/tmp/blinkit-derby -Xss8m"
            f" -XX:CICompilerCount={jit_compiler_threads(cpus)}",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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


def jvm_counters(spark: SparkSession) -> dict[str, int]:
    """The driver JVM's cumulative compile, class-loading and GC cost
    since it started, read over py4j: ``jit_ms`` (JIT compile time
    summed over compiler threads), ``classes_loaded``, ``gc_ms``,
    ``codegen_compiles`` (Janino compiles of generated classes — a
    codegen cache hit is not one) and ``codegen_ms``. Diff two readings
    for the cost of the work between them; on ``local[N]`` that is all
    of it, executors run in this JVM."""
    jvm = spark._jvm
    beans = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jit_ms": beans.getCompilationMXBean().getTotalCompilationTime(),
        "classes_loaded": beans.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "gc_ms": sum(
            gc.getCollectionTime() for gc in beans.getGarbageCollectorMXBeans()
        ),
        "codegen_compiles": compiles.METRIC_COMPILATION_TIME().getCount(),
        "codegen_ms": codegen.compileTime() // 1_000_000,
    }


def bounded_call(fn, *args, **kwargs):
    """Run ``fn(*args, **kwargs)`` — the construction of an iterative
    operator's contract-bounded loop frames — in a clone of the
    caller's session with AQE off and ``BOUNDED_SHUFFLE_PARTITIONS``
    static shuffle partitions.

    Why no AQE: the round loops (pagerank delta's frontier
    propagation, the graph-walk expansion rounds, the MMR greedy
    selection) build frames whose sizes are bounded by operator
    contract — frontier caps, |Q|·beam·k and |Q|·C pools —
    independent of corpus size. Under AQE even a LAZY
    ``localCheckpoint(eager=False)`` is not lazy: ``Dataset.rdd`` on an
    adaptive plan runs ``getFinalPhysicalPlan()``, which EXECUTES every
    upstream query stage before returning the RDD, so each round's
    plan-compile blocks on a chain of stage-barrier jobs whose
    replanning has nothing to adapt (OPTIMIZATION_r14.md, "The
    per-checkpoint toRdd floor": 0.75 s per checkpoint with AQE vs
    0.27 s without). Planned non-adaptively, the deferred stages
    pipeline inside the caller's one final materialization. That holds
    at ANY scale, which is exactly when adaptive replanning is pure
    overhead; the corpus-sized plans around these frames keep AQE.

    Why a static partition count: without AQE's runtime coalescing,
    exchanges fall back to ``spark.sql.shuffle.partitions``, sized for
    corpus work, and every bounded distinct or window would launch that
    many near-empty tasks. Bounded row counts need single-digit
    partitions; partitioning never changes the exact-integer folds or
    per-key window ranks. A corpus-sized frame built inside ``fn`` must
    therefore set its own partition count (``repartition(n, ...)``).

    Broadcast rule: without AQE's runtime join rewrite an unhinted join
    plans as a SortMergeJoin, and checkpoint leaves carry no stats — so
    every join inside ``fn`` broadcast-hints its bounded side.

    Why a clone: Catalyst plans each query against its own session's
    conf, and ``cloneSession`` copies the caller's current runtime conf
    (about 1 ms; a whole call with its rebinds, about 15 ms on 4
    vCPUs). The two settings land on the clone only, so a plan
    built on another thread meanwhile (another walk of a beam sweep, an
    unrelated query in a shared serving session) keeps the caller's
    conf, and overlapping calls each get their own clone: there is
    nothing to lock, count or restore. DataFrame arguments are rebound
    to the clone by their analyzed plans; returned frames, alone or in
    a tuple, are rebound to the caller's session, so the caller's final
    materialization plans adaptively as before. Other values pass
    through unchanged."""
    caller = next(
        a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)
    ).sparkSession
    jclone = caller._jsparkSession.cloneSession()
    jclone.conf().set("spark.sql.adaptive.enabled", "false")
    jclone.conf().set(
        "spark.sql.shuffle.partitions", str(BOUNDED_SHUFFLE_PARTITIONS)
    )
    # A wrapper copied from the caller's, not SparkSession(sc, jclone):
    # that constructor also rebinds the process-global RDD.toDF to the
    # new session.
    clone = object.__new__(type(caller))
    clone.__dict__.update(
        {
            k: caller.__dict__[k]
            for k in ("_sc", "_jsc", "_jvm", "_profiler_collector")
        },
        _jsparkSession=jclone,
    )
    out = fn(
        *(_rebind(a, clone) for a in args),
        **{k: _rebind(v, clone) for k, v in kwargs.items()},
    )
    if isinstance(out, tuple):
        return tuple(_rebind(o, caller) for o in out)
    return _rebind(out, caller)


def _rebind(x, session: SparkSession):
    """``x`` re-planned in ``session`` if it is a DataFrame, else ``x``."""
    if not isinstance(x, DataFrame):
        return x
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, x._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, session)
