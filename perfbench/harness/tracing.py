"""In-memory span tracer for the engine's layer boundaries.

A span is opened around each call the benchmark makes into a layer's
public function (``instrument`` wraps the module attributes the program
calls through, so the program itself is unchanged). Each span records
name, layer, start, end, parent span and run id; spans stay in memory
and are written out when the run ends.

Spark work is attributed to spans through job groups: the innermost
open span's id is the thread's job group, so after the run the status
tracker maps every job (and its stages) to exactly one span. Stage
counters are read from Spark's status store; a stage that several jobs
list (a reused shuffle) is charged once, to the first job that ran it.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .files import dir_bytes, parquet_rows

#: span-name prefix → engine layer (a module of blinkit_etl_pipeline_spark)
LAYER_OF_PREFIX = {
    "session": "session",
    "testdata": "sources.testdata",
    "pipelines": "pipelines",
    "sinks": "sources.sinks",
    "agg": "operators.agg",
    "runner": "runner",
    "parity": "plans.parity",
    "curated": "operators.curated",
    "dedup": "operators.dedup",
    "vector": "operators.vector",
    "text": "functions.text",
}

COUNTERS = (
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_rows",
)


def layer_of(name: str) -> str:
    return LAYER_OF_PREFIX[name.split(".", 1)[0]]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return layer_of(self.name)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.id}"


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the time its direct children cover (the
    union of their intervals, clipped to the span)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        #: frames "busy" spans cached; released when instrumentation is undone
        self.cached: list = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name, False)

    @contextmanager
    def span(self, name: str, **attrs):
        layer_of(name)  # unknown prefixes fail fast
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids), name, parent.id if parent else None,
            self.run_id, 0.0, attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span that ran no Spark jobs (session start)."""
        layer_of(name)
        self.spans.append(Span(next(self._ids), name, None, self.run_id, start, end))

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def attach_counters(self) -> None:
        """Charge every Spark stage to the span whose job ran it."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        jobs_of: dict[int, list[int]] = {}
        stage_owner: dict[int, int] = {}
        for sp in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            jobs_of[sp.id] = jobs
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    if st not in stage_owner or j < stage_owner[st]:
                        stage_owner[st] = j
        for sp in self.spans:
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"] = len(jobs_of[sp.id])
            own = set(jobs_of[sp.id])
            for st, j in stage_owner.items():
                if j not in own:
                    continue
                try:
                    d = store.lastStageAttempt(st)
                except Exception:  # noqa: BLE001 — evicted or never ran
                    continue
                c["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                c["failed_tasks"] += d.numFailedTasks()
                c["executor_run_s"] += d.executorRunTime() / 1000.0
                c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                c["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                c["input_bytes"] += d.inputBytes()
                c["output_rows"] += d.outputRecords()
            sp.counters = c

    def sql_join_output_rows(self, span: Span, needle: str) -> int:
        """Sum the "number of output rows" SQL metric of the join nodes
        whose plan description mentions ``needle``, over the SQL
        executions that ran jobs of ``span``'s group."""
        sc = self.spark.sparkContext
        jobs = set(sc.statusTracker().getJobIdsForGroup(span.group))
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            it = ex.jobs().keysIterator()
            ids = set()
            while it.hasNext():
                ids.add(int(it.next()))
            if not ids & jobs:
                continue
            values = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Join" not in node.name() or needle not in node.desc():
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    if pm.name() == "number of output rows":
                        v = values.get(pm.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total

    def to_records(self, cores: int) -> list[dict]:
        kids = self.children()
        # inclusive counters: a span's own jobs plus every descendant's
        incl: dict[int, dict] = {}
        for sp in reversed(self.spans):  # children are opened after parents
            acc = dict(sp.counters)
            for ch in kids.get(sp.id, []):
                for k, v in incl[ch.id].items():
                    acc[k] = acc.get(k, 0) + v
            incl[sp.id] = acc
        out = []
        for sp in self.spans:
            inc = incl[sp.id]
            wall = sp.duration
            out.append({
                "id": sp.id,
                "name": sp.name,
                "layer": sp.layer,
                "parent": sp.parent,
                "run_id": sp.run_id,
                "start": sp.start,
                "end": sp.end,
                "wall_s": wall,
                "self_s": self_time(sp, kids.get(sp.id, [])),
                "attrs": sp.attrs,
                "counters": sp.counters,
                "inclusive": inc,
                "cores": cores,
                "slot_utilization": (
                    inc.get("executor_run_s", 0.0) / (wall * cores) if wall > 0 else 0.0
                ),
            })
        return out


def force(df) -> None:
    """Materialize a DataFrame through Spark's ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def _wrap(tracer: Tracer, fn, name, mode: str, name_arg: int | None = None):
    """``mode``: "wall" (plain span), "busy" (cache the returned frame and
    force it through the noop sink inside the span, so its consumer
    reads the cache and pays only for its own work) or "sink" (record
    files and bytes written under the path argument)."""

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        span_name = name if name_arg is None else f"{name}.{args[name_arg]}"
        with tracer.span(span_name) as sp:
            out = fn(*args, **kwargs)
            if mode == "busy":
                tracer.cached.append(out.persist())
                force(out)
        if mode == "sink":
            path = args[1] if len(args) > 1 else kwargs["path"]
            files, nbytes = dir_bytes(path)
            sp.attrs.update(files_written=files, bytes_written=nbytes, rows_written=parquet_rows(path))
        return out

    inner.__wrapped_by_tracer__ = True
    return inner


def instrument(tracer: Tracer):
    """Patch the layer functions the program calls through; returns an
    undo callable that restores every original."""
    from blinkit_etl_pipeline_spark import runner
    from blinkit_etl_pipeline_spark.functions import text
    from blinkit_etl_pipeline_spark.operators import agg, curated, dedup, vector
    from blinkit_etl_pipeline_spark.pipelines import (
        customer_feedback,
        delivery_performance,
        inventory_recon,
        marketing_roi,
        sales_revenue,
    )
    from blinkit_etl_pipeline_spark.sources import sinks, testdata

    targets = [
        (testdata, "register_blinkit", "testdata.register_blinkit", "wall", None),
        (runner, "register_blinkit", "testdata.register_blinkit", "wall", None),
        (sales_revenue, "sales_fact", "pipelines.sales_fact", "busy", None),
        (customer_feedback, "enriched_feedback", "pipelines.enriched_feedback", "busy", None),
        (inventory_recon, "reconcile", "pipelines.reconcile", "busy", None),
        (marketing_roi, "marketing_kpis", "pipelines.marketing_kpis", "busy", None),
        (delivery_performance, "partner_performance", "pipelines.partner_performance", "busy", None),
        (sinks, "write_partitioned", "sinks.write_partitioned", "sink", None),
        (sinks, "write_curated", "sinks.write_curated", "sink", None),
        (curated, "ingest_curated_deltas", "curated.ingest_curated_deltas", "wall", 2),
        (curated, "read_curated", "curated.read_curated", "wall", None),
        (dedup, "exact_dedup", "dedup.exact_dedup", "busy", None),
        (dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", "busy", None),
        (dedup, "dedup_groups", "dedup.dedup_groups", "busy", None),
        (dedup, "simhash_pairs", "dedup.simhash_pairs", "busy", None),
        (vector, "brute_force_topk", "vector.brute_force_topk", "busy", None),
        (vector, "ivfpq_topk", "vector.ivfpq_topk", "busy", None),
        (text, "bm25_frame", "text.bm25_frame", "busy", None),
    ]
    for fname in (
        "revenue_by_category",
        "area_feedback_metrics",
        "campaign_performance_summary",
        "delivery_partner_performance",
        "category_inventory_impact",
        "product_inventory_discrepancies",
    ):
        targets.append((agg, fname, f"agg.{fname}", "busy", None))

    saved = []
    for mod, attr, name, mode, name_arg in targets:
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, _wrap(tracer, orig, name, mode, name_arg))
    saved_jobs = dict(runner.JOBS)
    for job, fn in saved_jobs.items():
        runner.JOBS[job] = _wrap(tracer, fn, f"runner.job.{job}", "wall")

    def undo() -> None:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
        runner.JOBS.update(saved_jobs)
        for df in tracer.cached:
            df.unpersist()
        tracer.cached.clear()

    return undo
