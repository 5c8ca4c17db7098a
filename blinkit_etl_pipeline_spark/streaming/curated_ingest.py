"""Event-driven curated-table maintenance — the reference's router
contract, upgraded from recompute-all to incremental.

The reference reacts to raw-bucket object-created events: the Lambda
router (`/root/reference/code-files/lambda/blinkit-etl-orchestrator.py:
45-53`) matches each new CSV's key prefix and triggers the Glue job
that rebuilds the affected curated tables wholesale. Here the same
event → affected-tables contract is composed from the engine's own
pieces, and each refresh costs ∝ the drop:

- the **file-source bookmark stream** (``file_source.py``,
  ``Trigger.AvailableNow`` + checkpoint = Glue-bookmark semantics):
  one stream per source prefix (``marketing/ orders/ inventory/
  feedback/`` — the Lambda's key-prefix match, expressed as source
  paths);
- the **job table** (``runner.JOB_TABLE``): each source prefix maps
  to one job and reuses that job's transform and IVM stores
  (``operators/curated.py`` specs over ``operators/incremental.py``
  stores), exactly what the batch runner and
  ``runner.handle_new_file_incremental`` run — marketing →
  campaign_summary; orders → delivery_partner; feedback →
  area_feedback; inventory → category_impact + product_discrepancies
  (one reconcile feeds both, the reference's job 05 writing two
  curated tables). Each micro-batch folds signed partials into ONLY
  its routed stores.

Exactly-once: the foreachBatch epoch id is stable across
crash-redelivery and the store guard is batch-grained, so a replayed
epoch appends nothing. Slice contract (operators/curated.py module
doc): a drop must be slice-complete on its table's dedup/join grain —
for inventory that means a drop carries BOTH snapshots' rows for its
(product, date) slices, tagged by a ``snapshot`` column ('old'/'new'),
so the full-outer reconcile resolves wholly within the drop (the join
key contains ``date``; per-date files satisfy this by construction).

The live curated tables are ``curated.read_curated`` at any moment —
readable by any batch session, no checkpoint required.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import runner
from .file_source import run_available_now

#: source prefix → the job whose transform and stores it drives (the
#: Lambda routing table, lambda:45-53, one stream per prefix)
SOURCE_JOBS: dict[str, str] = {
    "marketing": runner.JOB_MARKETING,
    "orders": runner.JOB_DELIVERY,
    "inventory": runner.JOB_INVENTORY,
    "feedback": runner.JOB_FEEDBACK,
}

def run_curated_maintenance(
    spark: SparkSession,
    raw_dir: str,
    checkpoint_root: str,
    store_root: str,
    schemas: dict[str, StructType],
    *,
    products: DataFrame | None = None,
    customers: DataFrame | None = None,
    orders_dim: DataFrame | None = None,
    fmt: str = "parquet",
    timeout_sec: int = 300,
) -> None:
    """One maintenance sweep: drain the files that arrived under
    ``raw_dir/{marketing,orders,inventory,feedback}`` since the last
    sweep's checkpoint and refresh ONLY the routed curated stores.
    Sources with no new files commit nothing (their stores' versions
    are untouched — the routing assertion the pytest pins).
    ``products`` is the dimension the inventory reconcile enriches
    against (required if an inventory drop arrives); ``customers`` /
    ``orders_dim`` are the dimensions a feedback drop enriches
    against (the batch job's three left joins, run on the drop). The
    multi-input sales pipeline routes through the batch runner's
    incremental entry point (``runner.handle_new_file_incremental``)
    instead — a file stream carries one source, not a join of
    three."""

    dims = {"products": products, "customers": customers, "orders": orders_dim}

    def mk_process(source: str):
        def process(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.columns or batch_df.isEmpty():
                return
            inputs = {k: v for k, v in dims.items() if v is not None}
            inputs[source] = batch_df
            try:
                runner.fold_drop(
                    batch_df.sparkSession, SOURCE_JOBS[source], inputs,
                    store_root, f"{source}-epoch-{batch_id}",
                )
            except KeyError as exc:
                raise ValueError(
                    f"{source} drop arrived but the {exc} dimension "
                    "was not supplied"
                ) from exc

        return process

    for source in SOURCE_JOBS:
        src_dir = os.path.join(raw_dir, source)
        if not os.path.isdir(src_dir):
            continue  # source never provisioned — nothing to route
        # glob one level down: drops land as per-event subdirectories
        # (a writer's job output dir), the raw-bucket layout
        stream = (
            spark.readStream.schema(schemas[source])
            .format(fmt)
            .load(os.path.join(src_dir, "*"))
        )
        run_available_now(
            stream,
            os.path.join(checkpoint_root, source),
            mk_process(source),
            timeout_sec=timeout_sec,
        )
