"""Incremental maintenance of the implied curated tables (IA2–IA5).

The reference's whole orchestration contract is event-driven: a CSV
lands in the raw bucket, the Lambda router
(`/root/reference/code-files/lambda/blinkit-etl-orchestrator.py:45-53`)
matches its key prefix and triggers the Glue job that RECOMPUTES the
affected curated tables wholesale. ``ns_incr_revenue`` /
``ns_incr_category_revenue`` already upgrade IA1 to incremental; this
module extends the same algebra (operators/ivm.py partials +
operators/incremental.py store lifecycle) to the other four curated
tables, so a file drop refreshes each affected table at a cost ∝ the
drop, never ∝ history. Which job feeds which store is declared once,
in ``runner.JOB_TABLE`` (each entry's curated outputs name their
``SPECS`` table); the streaming composition — file-source bookmark
stream routed per source prefix into ONLY the affected stores — lives
in ``streaming/curated_ingest.py`` and reads the same table.

Per-table derivations (every sum int64-quantized BEFORE aggregation —
ivm module doc; cents lattice for money, 1e-6 lattice for ratios):

- **campaign_summary** (IA2, ``agg.campaign_performance_summary``):
  store grain = the output grain (campaign_id, campaign_name,
  channel); Σspend¢, Σrevenue¢, Σconversions, Σctr·1e6, Σcvr·1e6,
  Σroas·1e6, n — every output column is a ratio/round of those, so
  plain signed sums maintain the table exactly.
- **delivery_partner** (IA3, ``agg.delivery_partner_performance``):
  grain (delivery_partner_id); Σis_delayed, Σhours·1e6, Σkm·1e6, n.
- **category_impact** (IA4, ``agg.category_inventory_impact``):
  stored at the FINER (category, product_id) grain —
  COUNT(DISTINCT product_id) is not a signed sum; the hierarchical
  cascade (Materialize's reduction tree, the
  ``ns_incr_category_revenue`` precedent) derives it at read time as
  a count over LIVE per-product groups (fully-retracted products
  fold to count 0 and vanish in the merge).
- **product_discrepancies** (IA5,
  ``agg.product_inventory_discrepancies``): stored at (product_id,
  product_name, category, severity_rank) grain — MAX(severity_rank)
  is not self-maintainable under deletes, but keeping the rank IN
  THE KEY makes the store the value-multiset (count per distinct
  rank, the classic min/max IVM fix): max over live ranks is exact
  under any retraction history.
- **revenue_by_category** (IA1, ``agg.revenue_by_category``): stored
  at the FINER (category, customer_id, order_id) grain so both
  COUNT(DISTINCT)s derive at read time from live groups (the
  ``ns_incr_category_revenue`` cascade; order_id functionally
  determines customer_id).
- **area_feedback** (``agg.area_feedback_metrics``, the feedback
  job's curated table): grain (area); rating and sentiment_score are
  exact small ints, so the averages are exact int64-sum/count
  divisions — bit-identical to the batch ``AVG`` in both engines.
  rating is nullable, so its non-null count is its own partial
  (``AVG`` skips nulls; dividing by the row count would diverge).

With these two, every curated table the batch runner writes has an
incremental twin — ``runner.handle_new_file_incremental`` folds a
drop through each routed job's ``JOB_TABLE`` transform into these
stores, the event-driven mode of the same C1 routing.

Delta-slice contract (what a "file drop" may contain): the upstream
transforms dedup on (campaign_id, date), require unique order_id, and
reconcile on (product_id, date) — a drop must be SLICE-COMPLETE on
its table's dedup/join grain and each slice must arrive exactly once
(one file per source per day, the reference's raw-bucket layout).
Redelivery of a whole drop is absorbed at BATCH granularity: each
store's snapshot manifest lists the batch ids it has committed, so a
redelivered ``batch_id`` is a no-op decided from metadata alone (no
Spark job, whatever the store's history); rows carry ``__sign``
(+1/−1) when a CDC feed supplies retractions, and deletes must be
exact negations of prior inserts (the ivm contract).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import incremental, ivm
from .agg import SEVERITY_FROM_RANK


def _cents(col: str) -> Column:
    return F.round(F.col(col) * 100, 0)


def _micro(col: str) -> Column:
    return F.round(F.col(col) * 1000000.0, 0)


@dataclass(frozen=True)
class CuratedSpec:
    """One curated table's IVM shape: store grain, quantized measure
    sums, an optional row filter applied to every delta batch, and the
    read-time derivation from merged partials to the curated frame."""

    keys: tuple[str, ...]
    sums: Callable[[], Mapping[str, Column]]
    finalize: Callable[[DataFrame], DataFrame]
    prepare: Callable[[DataFrame], DataFrame] | None = None

    @property
    def sum_cols(self) -> list[str]:
        return list(self.sums().keys())


# ----------------------------------------------------------------------
# IA2: curated_campaign_performance_summary
# ----------------------------------------------------------------------


def _campaign_sums() -> Mapping[str, Column]:
    return {
        "spend_q": _cents("spend"),
        "rev_q": _cents("revenue_generated"),
        "conv": F.col("conversions"),
        "ctr_q": _micro("ctr"),
        "cvr_q": _micro("conversion_rate"),
        "roas_q": _micro("roas_calculated"),
    }


def _campaign_finalize(merged: DataFrame) -> DataFrame:
    n = F.col(ivm.COUNT_COL)
    return merged.select(
        "campaign_id",
        "campaign_name",
        "channel",
        F.round(F.col("spend_q") / 100.0, 2).alias("total_spend"),
        F.round(F.col("rev_q") / 100.0, 2).alias("total_revenue"),
        F.col("conv").alias("total_conversions"),
        F.round(F.col("ctr_q") / (1000000.0 * n), 4).alias("avg_ctr"),
        F.round(F.col("cvr_q") / (1000000.0 * n), 4).alias(
            "avg_conversion_rate"
        ),
        F.round(F.col("roas_q") / (1000000.0 * n), 4).alias("avg_roas"),
        F.round(
            F.when(
                F.col("spend_q") > 0,
                (F.col("rev_q") - F.col("spend_q"))
                * 100.0
                / F.col("spend_q"),
            ).otherwise(F.lit(0.0)),
            2,
        ).alias("overall_roi"),
    )


# ----------------------------------------------------------------------
# IA3: curated_delivery_partner_performance
# ----------------------------------------------------------------------


def _delivery_prepare(batch: DataFrame) -> DataFrame:
    return batch.filter(
        F.col("order_id").isNotNull()
        & F.col("delivery_partner_id").isNotNull()
    )


def _delivery_sums() -> Mapping[str, Column]:
    return {
        "delayed": F.col("is_delayed"),
        "time_q": _micro("delivery_time_hours"),
        "dist_q": _micro("distance_km"),
    }


def _delivery_finalize(merged: DataFrame) -> DataFrame:
    n = F.col(ivm.COUNT_COL)
    return merged.select(
        "delivery_partner_id",
        n.alias("total_deliveries"),
        F.col("delayed").alias("delayed_deliveries"),
        F.round((F.col("delayed") / n) * 100, 2).alias("delay_percentage"),
        F.round(F.col("time_q") / (1000000.0 * n), 2).alias(
            "avg_delivery_time"
        ),
        F.round(F.col("dist_q") / (1000000.0 * n), 2).alias("avg_distance"),
    )


# ----------------------------------------------------------------------
# IA4: curated_category_inventory_impact (hierarchical cascade)
# ----------------------------------------------------------------------


def _discrepant(batch: DataFrame) -> DataFrame:
    return batch.filter(F.col("has_discrepancy") == 1)


def _impact_sums() -> Mapping[str, Column]:
    return {
        "fi_q": _cents("financial_impact"),
        "sv": F.col("stock_variance"),
        "dv": F.col("damaged_variance"),
    }


def _category_finalize(merged: DataFrame) -> DataFrame:
    n = ivm.COUNT_COL
    return merged.groupBy("category").agg(
        F.round(F.sum("fi_q") / 100.0, 2).alias("total_impact"),
        F.count("*").cast("long").alias("affected_products"),
        F.round(F.sum("sv") / F.sum(n), 4).alias("avg_stock_variance"),
        F.round(F.sum("dv") / F.sum(n), 4).alias("avg_damaged_variance"),
    )


# ----------------------------------------------------------------------
# IA1: curated_revenue_by_category (distinct-cascade over sales_fact)
# ----------------------------------------------------------------------


def _sales_sums() -> Mapping[str, Column]:
    return {
        "lt_q": _cents("line_total"),
        "pm_q": _cents("profit_margin"),
    }


def _sales_finalize(merged: DataFrame) -> DataFrame:
    # COUNT(DISTINCT order_id)/COUNT(DISTINCT customer_id) are not
    # signed sums: partials persist at the finer (category, customer,
    # order) grain and both distincts derive from the live groups —
    # the ns_incr_category_revenue hierarchical cascade, valid because
    # order_id functionally determines customer_id (agg.py:48 doc).
    per_customer = merged.groupBy("category", "customer_id").agg(
        F.count("*").cast("long").alias("_n_orders"),
        F.sum("lt_q").alias("_lt"),
        F.sum("pm_q").alias("_pm"),
    )
    return per_customer.groupBy("category").agg(
        F.sum("_n_orders").cast("long").alias("total_orders"),
        F.count("*").cast("long").alias("unique_customers"),
        F.round(F.sum("_lt") / 100.0, 2).alias("total_revenue"),
        F.round(F.sum("_pm") / 100.0, 2).alias("total_profit"),
        F.round(F.sum("_lt") / (100.0 * F.sum("_n_orders")), 2).alias(
            "avg_order_value"
        ),
    )


# ----------------------------------------------------------------------
# curated_area_feedback_metrics (the feedback job's curated table)
# ----------------------------------------------------------------------


def _feedback_prepare(batch: DataFrame) -> DataFrame:
    return batch.filter(F.col("feedback_id").isNotNull())


def _feedback_sums() -> Mapping[str, Column]:
    # rating (1–5 int) and sentiment_score (−1/0/1 int) are exact
    # integers already — no lattice needed; averages derive as exact
    # int64-sum / count divisions at read time. rating is NULLABLE
    # (the batch AVG skips nulls), so its non-null count rides along
    # as its own partial; sentiment_score is never null by
    # construction (derive.with_sentiment_score's CASE has a default).
    return {
        "rating_s": F.coalesce(F.col("rating"), F.lit(0)),
        "rating_n": F.when(F.col("rating").isNotNull(), 1).otherwise(0),
        "pos": F.when(
            F.col("sentiment_normalized") == "Positive", 1
        ).otherwise(0),
        "neg": F.when(
            F.col("sentiment_normalized") == "Negative", 1
        ).otherwise(0),
        "sent_s": F.col("sentiment_score"),
    }


def _feedback_finalize(merged: DataFrame) -> DataFrame:
    n = F.col(ivm.COUNT_COL)
    return merged.select(
        "area",
        n.alias("total_feedback"),
        # try_divide: 0/0 → NULL under ANSI, matching AVG over an
        # all-null group
        F.try_divide(F.col("rating_s"), F.col("rating_n")).alias(
            "avg_rating"
        ),
        F.col("pos").cast("bigint").alias("positive_count"),
        F.col("neg").cast("bigint").alias("negative_count"),
        (F.col("sent_s") / n).alias("avg_sentiment_score"),
        (F.col("pos") / n).alias("satisfaction_rate"),
    )


# ----------------------------------------------------------------------
# IA5: curated_product_inventory_discrepancies (rank-in-key max)
# ----------------------------------------------------------------------


def _product_finalize(merged: DataFrame) -> DataFrame:
    return (
        merged.groupBy("product_id", "product_name", "category")
        .agg(
            F.sum(ivm.COUNT_COL)
            .cast("long")
            .alias("discrepancy_occurrences"),
            F.sum("sv").cast("bigint").alias("total_stock_variance"),
            F.sum("dv").cast("bigint").alias("total_damaged_variance"),
            F.round(F.sum("fi_q") / 100.0, 2).alias("total_impact"),
            F.max("severity_rank").alias("max_severity_rank"),
        )
        .withColumn("max_severity", F.expr(SEVERITY_FROM_RANK))
        .drop("max_severity_rank")
    )


SPECS: dict[str, CuratedSpec] = {
    "revenue_by_category": CuratedSpec(
        keys=("category", "customer_id", "order_id"),
        sums=_sales_sums,
        finalize=_sales_finalize,
    ),
    "area_feedback": CuratedSpec(
        keys=("area",),
        sums=_feedback_sums,
        finalize=_feedback_finalize,
        prepare=_feedback_prepare,
    ),
    "campaign_summary": CuratedSpec(
        keys=("campaign_id", "campaign_name", "channel"),
        sums=_campaign_sums,
        finalize=_campaign_finalize,
    ),
    "delivery_partner": CuratedSpec(
        keys=("delivery_partner_id",),
        sums=_delivery_sums,
        finalize=_delivery_finalize,
        prepare=_delivery_prepare,
    ),
    "category_impact": CuratedSpec(
        keys=("category", "product_id"),
        sums=_impact_sums,
        finalize=_category_finalize,
        prepare=_discrepant,
    ),
    "product_discrepancies": CuratedSpec(
        keys=("product_id", "product_name", "category", "severity_rank"),
        sums=_impact_sums,
        finalize=_product_finalize,
        prepare=_discrepant,
    ),
}


def store_path(store_root: str, table: str) -> str:
    """Canonical on-disk layout of a curated table's IVM store —
    single-sourced here so the batch runner and the streaming router
    can never disagree on where a table's store lives."""
    return os.path.join(store_root, table)


def curated_delta_view(table: str, batches: list[DataFrame]) -> DataFrame:
    """Pure-batch form (no store): fold each signed delta batch to
    partials, merge, and derive the curated table — the registry-gauge
    shape (`ns_incr_*`), bit-equal to the store read over the same
    batches by the ivm merge algebra."""
    from functools import reduce

    spec = SPECS[table]
    parts = [
        ivm.delta_partials(
            spec.prepare(b) if spec.prepare else b,
            list(spec.keys),
            spec.sums(),
        )
        for b in batches
    ]
    merged = ivm.merge_partials(
        reduce(lambda a, b: a.unionByName(b), parts),
        list(spec.keys),
        spec.sum_cols,
    )
    return spec.finalize(merged)


def ingest_curated_deltas(
    spark: SparkSession,
    store_table: str,
    table: str,
    batch: DataFrame,
    *,
    batch_id: str,
) -> int:
    """Fold one signed delta batch into the curated table's agg store
    (work ∝ batch; idempotent per ``batch_id``). Returns the committed
    store version."""
    spec = SPECS[table]
    rows = spec.prepare(batch) if spec.prepare else batch
    return incremental.ingest_agg_deltas(
        spark,
        store_table,
        rows,
        list(spec.keys),
        spec.sums(),
        batch_id=batch_id,
    )


def read_curated(
    spark: SparkSession, store_table: str, table: str
) -> DataFrame:
    """The curated table's live view: merge-on-read of the partial
    store (store-sized, never a base-table scan) + the spec's
    derivation — equals the batch recompute over everything ingested
    (pytest + the ns_incr_* oracles pin the algebra)."""
    spec = SPECS[table]
    merged = incremental.read_agg_store(
        spark, store_table, list(spec.keys), spec.sum_cols
    )
    return spec.finalize(merged)


def read_curated_at(
    spark: SparkSession, store_table: str, table: str, version: int
) -> DataFrame:
    """The curated table AS OF a pinned store version — time travel
    over the partial store (merge-on-read against that version's
    manifest; immutable files make it stable under later ingests)."""
    from . import snapshot

    spec = SPECS[table]
    merged = ivm.merge_partials(
        snapshot.read_snapshot(spark, store_table, version),
        list(spec.keys),
        spec.sum_cols,
    )
    return spec.finalize(merged)


def curated_changes(
    spark: SparkSession,
    store_table: str,
    table: str,
    v_old: int,
    v_new: int,
) -> DataFrame:
    """CDC-OUT between two committed versions of a maintained curated
    table (r10) — "what did that drop change in the dashboard?"
    without replaying the drop: multiset diff of the finalized views,
    ``change='added'`` rows present only at ``v_new``, ``'removed'``
    only at ``v_old`` (an updated key emits one of each — its pre- and
    post-images). Work ∝ the two merge-on-read folds (store-sized,
    never base-table-sized); downstream consumers (cache invalidation,
    alerting, reverse ETL) get exactly the changed rows."""
    old = read_curated_at(spark, store_table, table, v_old)
    new = read_curated_at(spark, store_table, table, v_new)
    return (
        new.exceptAll(old)
        .withColumn("change", F.lit("added"))
        .unionByName(
            old.exceptAll(new).withColumn("change", F.lit("removed"))
        )
        .select("change", *new.columns)
    )
