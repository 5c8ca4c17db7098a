"""Orchestration runner: the reference's control plane, in-process.

Reproduces the Lambda orchestrator's contract (SURVEY.md §2.12, C1-C5;
reference ``lambda/blinkit-etl-orchestrator.py``):

- **C1 routing** (lambda:45-53): filename substring → job set;
  unrecognized file → ALL jobs (the reference's intentional catch-all).
- **C2 sequential execution with per-job status** (lambda:55-81): here a
  plain function call per job — no polling, failures are caught and
  recorded, later jobs still run.
- **C3 partial-failure semantics** (lambda:36-39): overall status is
  ``ok`` / ``partial`` / ``failed``; catalog refresh happens if ≥1 job
  succeeded.
- **C4 catalog refresh** (lambda:83-97): the Glue-crawler equivalent is
  ``createOrReplaceTempView`` over each written curated table, read with
  the schema it was written from — no inference pass, no Spark job.
- **C5 job bracket** (01:21-22,108): no-op in plain Spark.

What each of the five Glue-style jobs owns is declared once, in
``JOB_TABLE``: its transform from source frames to rows, its processed
sink (partitioned by date parts, sources/sinks.py) and its curated
outputs (aggregate, curated sink, analyst view, IVM store). Generic
executors read the table — ``refresh_job`` for the batch refresh under
``out_dir`` (the reference's S3 bucket layout), ``fold_drop`` for a
file drop into the IVM stores (``handle_new_file_incremental`` here,
``streaming/curated_ingest.py`` for the file-stream router). The
job-keyed names the rest of the program uses (``JOBS``,
``CURATED_TABLES``, ``CURATED_VIEWS``, ``ALL_JOBS``, ``JOB_*``) are
derived from it.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from .operators import agg, derive
from .pipelines import (
    customer_feedback,
    delivery_performance,
    inventory_recon,
    marketing_roi,
    sales_revenue,
)
from .sources import metrics, readers, sinks
from .sources.testdata import register_blinkit

#: source name (``orders``, ``order_items``, ``products``, …) → frame
Inputs = Mapping[str, DataFrame]


@dataclass(frozen=True)
class Processed:
    """A job's processed sink: ``processed/<dir>``, partitioned and
    clustered by ``sort_cols``; ``date_col`` derives the partition
    columns at write time (reference 05:108-110)."""

    dir: str
    sort_cols: tuple[str, ...]
    partition_cols: tuple[str, ...] = ("year", "month", "day")
    date_col: str | None = None


@dataclass(frozen=True)
class Curated:
    """One curated output: ``agg.<name>`` over the job's rows, written to
    ``curated/<name>`` and registered as the ``curated_<name>`` view;
    ``table`` is its IVM store (``operators/curated.SPECS`` key).
    ``aggregate`` replaces ``agg.<name>`` where the batch job cleans
    its rows first."""

    name: str
    table: str
    aggregate: Callable[[DataFrame], DataFrame] | None = None

    @property
    def view(self) -> str:
        return f"curated_{self.name}"

    def build(self, rows: DataFrame) -> DataFrame:
        # late lookup through the module, so patched aggregates apply
        return (self.aggregate or getattr(agg, self.name))(rows)


@dataclass(frozen=True)
class JobSpec:
    """One Glue-style job: the transform that turns source frames (a
    batch's full tables or a drop's rows) into the rows every sink of
    the job reads."""

    name: str
    transform: Callable[[SparkSession, Inputs], DataFrame]
    curated: tuple[Curated, ...]
    processed: Processed | None = None


def _reconcile(spark: SparkSession, t: Inputs) -> DataFrame:
    if "inventory" in t:  # one frame tagged by `snapshot`, the drop layout
        tagged = t["inventory"]
        old = tagged.filter(F.col("snapshot") == "old").drop("snapshot")
        new = tagged.filter(F.col("snapshot") == "new").drop("snapshot")
    else:
        old, new = t["inventory_old"], t["inventory_new"]
    return inventory_recon.reconcile(old, new, t["products"])


JOB_TABLE: tuple[JobSpec, ...] = (
    JobSpec(
        "sales-revenue-etl",
        lambda spark, t: sales_revenue.sales_fact(
            t["orders"], t["order_items"], t["products"]
        ),
        (Curated("revenue_by_category", "revenue_by_category"),),
        # sort by product_id: analytic reads filter/join on product &
        # category, so clustered row groups prune on min/max stats
        Processed("sales_transactions", ("product_id",)),
    ),
    JobSpec(
        "delivery-performance-etl",
        lambda spark, t: t["orders"],
        (
            Curated(
                "delivery_partner_performance",
                "delivery_partner",
                # the batch job drops null keys and dedups order_id
                # first; on a drop the store's prepare step drops the
                # null keys and the slice contract makes order_id unique
                lambda rows: delivery_performance.partner_performance(rows),
            ),
        ),
    ),
    JobSpec(
        "customer-feedback-etl",
        lambda spark, t: customer_feedback.enriched_feedback(
            t["feedback"], t["customers"], t["orders"], readers.rating_icons(spark)
        ),
        (Curated("area_feedback_metrics", "area_feedback"),),
        Processed("customer_feedback", ("area",), ("year", "month")),
    ),
    JobSpec(
        "marketing-roi-etl",
        lambda spark, t: marketing_roi.marketing_kpis(t["marketing"]),
        (Curated("campaign_performance_summary", "campaign_summary"),),
        Processed("marketing_performance", ("campaign_id",), ("year", "month")),
    ),
    JobSpec(
        "inventory-reconciliation-etl",
        _reconcile,
        (
            Curated("category_inventory_impact", "category_impact"),
            Curated("product_inventory_discrepancies", "product_discrepancies"),
        ),
        Processed(
            "inventory_reconciliation", ("product_id",), ("year", "month"), "date"
        ),
    ),
)

JOB_SPECS = {spec.name: spec for spec in JOB_TABLE}
ALL_JOBS = JOB_SALES, JOB_DELIVERY, JOB_FEEDBACK, JOB_MARKETING, JOB_INVENTORY = tuple(JOB_SPECS)
#: job → curated stores it maintains (inventory writes two, reference job 05)
CURATED_TABLES = {s.name: tuple(c.table for c in s.curated) for s in JOB_TABLE}
#: store table → analyst view name (C4)
CURATED_VIEWS = {c.table: c.view for s in JOB_TABLE for c in s.curated}

# lambda:45-53 — substring routing; order/product → sales AND delivery
# (the reference runs both because 02 consumed the same inputs).
ROUTING: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("order", (JOB_SALES, JOB_DELIVERY)),
    ("product", (JOB_SALES, JOB_DELIVERY)),
    ("feedback", (JOB_FEEDBACK,)),
    ("marketing", (JOB_MARKETING,)),
    ("inventory", (JOB_INVENTORY,)),
)


@dataclass
class RunnerConfig:
    sf_dir: str
    out_dir: str


@dataclass
class RunReport:
    statuses: dict[str, str] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    # rows written per job's processed output, measured via Observation
    # during the sink write (S8 semantics at zero extra scans)
    row_counts: dict[str, int] = field(default_factory=dict)

    @property
    def overall(self) -> str:
        vals = set(self.statuses.values())
        if vals <= {"succeeded"}:
            return "ok"
        return "partial" if "succeeded" in vals else "failed"


def determine_jobs_to_run(filename: str) -> list[str]:
    """C1: filename → job list (deduplicated, routing order preserved).

    Unrecognized names return ALL jobs — reference lambda:52's
    deliberate catch-all.
    """
    low = filename.lower()
    out: list[str] = []
    for needle, jobs in ROUTING:
        if needle in low:
            out.extend(j for j in jobs if j not in out)
    return out or list(ALL_JOBS)


def refresh_job(spec: JobSpec, spark: SparkSession, conf: RunnerConfig) -> int | None:
    """One batch job: transform the full inputs, write the processed
    sink and every curated output, register the curated views (C4).
    Returns the processed sink's row count, or None without one."""
    t = register_blinkit(spark, conf.sf_dir)
    rows = spec.transform(spark, {k.removeprefix("b_"): v for k, v in t.items()})
    p, obs = spec.processed, None
    # several sinks: persist at the fan-out so they share one compute
    shared = (p is not None) + len(spec.curated) > 1
    if shared:
        rows.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if p is not None:
            dated = rows if p.date_col is None else derive.with_date_parts(
                rows, p.date_col, day="day" in p.partition_cols
            )
            # observe the written frame, above the cache: the count
            # rides the write job and the curated aggregates share the
            # cached rows unobserved
            dated, obs = metrics.with_row_count(dated, f"{p.dir}_rows")
            sinks.write_partitioned(
                dated,
                f"{conf.out_dir}/processed/{p.dir}",
                partition_cols=p.partition_cols,
                sort_cols=p.sort_cols,
            )
        for c in spec.curated:
            path = f"{conf.out_dir}/curated/{c.name}"
            out = c.build(rows)
            sinks.write_curated(out, path)
            # the written schema: a bare read runs a footer-schema job
            # for the same schema (file sources read columns nullable)
            spark.read.schema(out.schema).parquet(path).createOrReplaceTempView(c.view)
        return None if obs is None else metrics.get_count(obs)
    finally:
        if shared:
            rows.unpersist()


#: job → batch runner; a mutable dict so a caller can wrap or replace a job
JOBS: dict[str, Callable[[SparkSession, RunnerConfig], int | None]] = {
    s.name: partial(refresh_job, s) for s in JOB_TABLE
}


def run_jobs_sequential(
    spark: SparkSession, conf: RunnerConfig, jobs: list[str]
) -> RunReport:
    """C2+C3: run jobs in order, recording per-job status; a failure
    does not stop later jobs (the reference collects statuses the same
    way before deciding the HTTP code)."""
    report = RunReport()
    for job in jobs:
        try:
            rows = JOBS[job](spark, conf)
            report.statuses[job] = "succeeded"
            if rows is not None:
                report.row_counts[job] = rows
        except Exception as exc:  # noqa: BLE001 — status contract
            report.statuses[job] = "failed"
            report.errors[job] = f"{type(exc).__name__}: {exc}"
    return report


def handle_new_file(
    spark: SparkSession, conf: RunnerConfig, filename: str
) -> RunReport:
    """Entry point A (SURVEY.md §3.1): one new raw file → routed jobs."""
    return run_jobs_sequential(spark, conf, determine_jobs_to_run(filename))


# ---------------------------------------------------------------------------
# Incremental mode (r10): the same event contract, cost ∝ the drop
# ---------------------------------------------------------------------------
# The batch jobs above RECOMPUTE each curated table from the full
# inputs — the reference's behavior (lambda:55-81 triggers Glue jobs
# that rebuild wholesale). In incremental mode the identical C1 routing
# decides which jobs react, but each routed job folds ONLY the drop's
# rows — transformed by the SAME JobSpec transform — into its curated
# tables' IVM stores (operators/curated.py specs), so a file landing
# costs ∝ the file at any history size. C2/C3 statuses and the C4
# refresh contract (views re-register if ≥1 job succeeded) carry over
# unchanged; the registered views now read merge-on-read store state
# instead of rewritten parquet.
#
# Slice contract (operators/curated.py module doc): each drop must be
# slice-complete on its tables' dedup/join grains — an order's items
# arrive with the order, an inventory drop carries both snapshots for
# its (product, date) slices, and a given order/feedback/campaign-day
# row arrives exactly once across drops. `batch_id` (default: the
# filename, i.e. the raw object key) makes redelivered events no-ops at
# every routed store.


def curated_store_path(store_root: str, table: str) -> str:
    from .operators import curated

    return curated.store_path(store_root, table)


def fold_drop(
    spark: SparkSession, job: str, inputs: Inputs, store_root: str, batch_id: str
) -> None:
    """Fold one drop's rows, through ``job``'s transform, into each of
    its curated IVM stores."""
    from .operators import curated

    spec = JOB_SPECS[job]
    rows = spec.transform(spark, inputs)
    if len(spec.curated) > 1:
        # feeds several stores: materialize once or each ingest re-pays
        # the transform (the inventory full-outer join, r8 lesson)
        rows = rows.localCheckpoint(eager=True)
    for c in spec.curated:
        curated.ingest_curated_deltas(
            spark, curated_store_path(store_root, c.table), c.table, rows,
            batch_id=batch_id,
        )


def handle_new_file_incremental(
    spark: SparkSession,
    store_root: str,
    filename: str,
    inputs: dict[str, DataFrame],
    *,
    batch_id: str | None = None,
) -> RunReport:
    """Entry point A, incremental form: one new raw file → routed jobs,
    each folding the drop into its curated IVM stores. ``inputs`` maps
    source names (orders / order_items / products / feedback /
    customers / marketing / inventory_old + inventory_new, or one
    ``inventory`` frame tagged by a ``snapshot`` column) to the drop's
    frames — fact sources carry ONLY the drop's rows; dimension
    sources (products, customers) carry the current dim. A job whose
    inputs are missing fails without stopping later jobs (C3), and the
    C4 view refresh runs for every table of every succeeded job."""
    from .operators import curated, snapshot

    bid = batch_id if batch_id is not None else filename
    report = RunReport()
    for job in determine_jobs_to_run(filename):
        try:
            fold_drop(spark, job, inputs, store_root, f"{job}::{bid}")
            report.statuses[job] = "succeeded"
        except Exception as exc:  # noqa: BLE001 — status contract
            report.statuses[job] = "failed"
            report.errors[job] = f"{type(exc).__name__}: {exc}"
    for job, status in report.statuses.items():
        if status != "succeeded":
            continue
        for c in JOB_SPECS[job].curated:
            path = curated_store_path(store_root, c.table)
            # a first-ever drop can legitimately fold to zero delta
            # rows (e.g. an inventory drop with no discrepancies):
            # the job succeeded but no store exists yet to publish
            if snapshot.current_version(path) is None:
                continue
            curated.read_curated(spark, path, c.table).createOrReplaceTempView(c.view)
    return report


ANALYTIC_QUERIES = (
    "customer_metrics",
    "customer_satisfaction",
    "campaign_roi",
    "delivery_partner",
    "inventory_and_revenue",
    "inventory_discrepancies",
)


def run_analytics(spark: SparkSession) -> dict[str, DataFrame]:
    """Entry point C: the six analyst queries over registered curated
    views (requires the corresponding jobs to have run)."""
    from .plans import parity

    sql_texts = {
        "customer_metrics": parity.CUSTOMER_METRICS_SQL,
        "customer_satisfaction": parity.CUSTOMER_SATISFACTION_SQL,
        "campaign_roi": parity.CAMPAIGN_ROI_SQL,
        "delivery_partner": parity.DELIVERY_PARTNER_SQL,
        "inventory_and_revenue": parity.INVENTORY_AND_REVENUE_SQL,
        "inventory_discrepancies": parity.INVENTORY_DISCREPANCIES_SQL,
    }
    return {name: spark.sql(text) for name, text in sql_texts.items()}
