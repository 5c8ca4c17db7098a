"""Per-layer metrics of a traced run.

Every metric is named ``<layer>.<function>.<measure>``. Time measures
are seconds per iteration of the workload's closed loop (a refresh, a
round of drops, a curation pass): the summed duration of the spans of
that name in the traced phase, divided by the traced iterations.
``busy_s`` spans force their output through the noop sink inside the
span, so they hold the layer's compute; ``wall_s`` spans do not.

Every workload reports every metric: a layer the workload never calls
reports 0, which is the idle-layer prediction a later change can be
checked against.
"""

from __future__ import annotations

import re

from .stats import median

JOBS = (
    "sales-revenue-etl",
    "delivery-performance-etl",
    "customer-feedback-etl",
    "marketing-roi-etl",
    "inventory-reconciliation-etl",
)
AGGS = (
    "revenue_by_category",
    "area_feedback_metrics",
    "campaign_performance_summary",
    "delivery_partner_performance",
    "category_inventory_impact",
    "product_inventory_discrepancies",
)
QUERIES = (
    "customer_metrics",
    "customer_satisfaction",
    "campaign_roi",
    "delivery_partner",
    "inventory_and_revenue",
    "inventory_discrepancies",
)
STORE_TABLES = (
    "revenue_by_category",
    "delivery_partner",
    "area_feedback",
    "campaign_summary",
    "category_impact",
    "product_discrepancies",
)
PIPELINES = (
    "sales_fact",
    "enriched_feedback",
    "reconcile",
    "marketing_kpis",
    "partner_performance",
)
LAYERS = (
    "session",
    "sources.testdata",
    "pipelines",
    "sources.sinks",
    "operators.agg",
    "runner",
    "plans.parity",
    "operators.curated",
    "operators.dedup",
    "operators.vector",
    "functions.text",
)

#: span names whose per-iteration time is reported, with the measure
TIMED = (
    [(f"pipelines.{p}", "busy_s") for p in PIPELINES]
    + [("sinks.write_partitioned", "busy_s"), ("sinks.write_curated", "busy_s")]
    + [(f"agg.{a}", "busy_s") for a in AGGS]
    + [(f"runner.job.{j}", "wall_s") for j in JOBS]
    + [("runner.handle_new_file_incremental", "wall_s")]
    + [(f"parity.{q}", "wall_s") for q in QUERIES]
    + [(f"curated.ingest_curated_deltas.{t}", "wall_s") for t in STORE_TABLES]
    + [("curated.read_curated", "wall_s")]
    + [(f"dedup.{d}", "busy_s") for d in (
        "exact_dedup", "minhash_lsh_pairs", "dedup_groups", "simhash_pairs")]
    + [("vector.brute_force_topk", "busy_s"), ("vector.ivfpq_topk", "busy_s")]
    + [("text.bm25_frame", "busy_s")]
)
#: set-up spans: median seconds per set-up repetition
SETUP_TIMED = (("session.get_session", "wall_s"), ("testdata.register_blinkit", "wall_s"))

#: counters a workload computes itself (``Workload.layer_metrics``)
WORKLOAD_COUNTERS = {
    "runner.routed_jobs_per_drop": "count",
    "curated.store_versions": "count",
    "curated.store_files": "count",
    "curated.store_bytes": "bytes",
    "curated.bytes_written_per_drop_byte": "ratio",
    "curated.ingest_growth": "ratio",
    "dedup.lsh_candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "vector.ivfpq_topk.rows_scored_per_query": "count",
}

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def metric_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    out = {f"{n}.{m}": "s" for n, m in SETUP_TIMED}
    out.update({f"{n}.{m}": "s" for n, m in TIMED})
    out.update({
        "sinks.write_partitioned.files_written": "count",
        "sinks.write_partitioned.bytes_written": "bytes",
        "sinks.write_partitioned.rows_per_file": "count",
        "sinks.write_curated.files_written": "count",
        "runner.jobs_failed": "count",
    })
    for q in QUERIES:
        out[f"parity.{q}.scan_bytes"] = "bytes"
        out[f"parity.{q}.rows_out"] = "count"
    out.update(WORKLOAD_COUNTERS)
    for layer in LAYERS:
        out[f"layer.{layer}.self_s"] = "s"
        out[f"layer.{layer}.slot_utilization"] = "ratio"
    out["trace_overhead_ratio"] = "ratio"
    return out


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        out[s["layer"]] += s["self_s"]
    return out


#: layers a workload must never call (the idle-layer predictions)
IDLE = {
    "batch_etl": ("operators.curated", "operators.dedup", "operators.vector", "functions.text"),
    "incremental_drops": ("sources.sinks", "operators.dedup", "operators.vector", "functions.text"),
    "corpus_curation": (
        "sources.testdata", "pipelines", "sources.sinks", "operators.agg",
        "runner", "plans.parity", "operators.curated",
    ),
}


#: the layer predicted to carry the largest self time, where one is
LARGEST = {"batch_etl": "sources.sinks"}


def idle_violations(workload: str, spans: list[dict]) -> list[str]:
    """Span names found in layers the workload is predicted not to call."""
    idle = set(IDLE.get(workload, ()))
    return sorted({s["name"] for s in spans if s["layer"] in idle})


def prediction_checks(workload: str, spans: list[dict]) -> list[tuple[str, bool, str]]:
    """The layer predictions of a traced run as gate checks
    ``(name, ok, detail)``: no span in an idle layer, and the predicted
    layer carries the largest self time."""
    bad = idle_violations(workload, spans)
    checks = [(
        "idle_layers", not bad,
        f"spans in idle layers: {', '.join(bad)}" if bad
        else f"no span in {', '.join(IDLE[workload])}",
    )]
    if workload in LARGEST:
        self_s = self_time_by_layer(spans)
        top = max(self_s, key=self_s.get)
        checks.append((
            f"largest_self_time.{LARGEST[workload]}", top == LARGEST[workload],
            f"largest is {top} ({self_s[top]:.3f} s"
            f"; {LARGEST[workload]} {self_s[LARGEST[workload]]:.3f} s)",
        ))
    return checks


def per_layer_metrics(
    setup_spans: list[dict], spans: list[dict], iterations: int, extra: dict
) -> dict[str, float]:
    names = metric_names()
    out = dict.fromkeys(names, 0.0)
    it = max(1, iterations)
    for n, m in SETUP_TIMED:
        walls = [s["wall_s"] for s in setup_spans if s["name"] == n]
        out[f"{n}.{m}"] = median(walls) if walls else 0.0
    for n, m in TIMED:
        out[f"{n}.{m}"] = sum(s["wall_s"] for s in spans if s["name"] == n) / it

    def attr_sum(name, key):
        return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)

    wp_files = attr_sum("sinks.write_partitioned", "files_written")
    out["sinks.write_partitioned.files_written"] = wp_files / it
    out["sinks.write_partitioned.bytes_written"] = (
        attr_sum("sinks.write_partitioned", "bytes_written") / it
    )
    out["sinks.write_partitioned.rows_per_file"] = (
        attr_sum("sinks.write_partitioned", "rows_written") / wp_files if wp_files else 0.0
    )
    out["sinks.write_curated.files_written"] = attr_sum("sinks.write_curated", "files_written") / it
    for q in QUERIES:
        qs = [s for s in spans if s["name"] == f"parity.{q}"]
        if qs:
            out[f"parity.{q}.scan_bytes"] = median([s["inclusive"]["input_bytes"] for s in qs])
            out[f"parity.{q}.rows_out"] = median([s["attrs"].get("rows_out", 0) for s in qs])
    by_layer_self = self_time_by_layer(spans)
    for layer in LAYERS:
        own = [s for s in spans if s["layer"] == layer]
        self_s = by_layer_self[layer]
        run_s = sum(s["counters"].get("executor_run_s", 0.0) for s in own)
        cores = own[0]["cores"] if own else 1
        out[f"layer.{layer}.self_s"] = self_s / it
        out[f"layer.{layer}.slot_utilization"] = run_s / (self_s * cores) if self_s > 0 else 0.0
    for k, v in extra.items():
        out[k] = float(v)
    return out
