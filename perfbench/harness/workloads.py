"""The three user workloads.

Each workload is driven by one closed-loop client in one process:

- ``generate`` writes the seeded inputs (harness work, untimed),
- ``register`` registers them with the current session (set-up, timed
  with the session start and repeated),
- ``warm`` runs one untimed pass (traced runs only) so layer costs are
  attributed on a warm JVM,
- ``iteration`` is one unit of the closed loop (a refresh, a round of
  drops, a curation pass) and records its latencies,
- ``gate`` is the untimed correctness check against an independent
  recompute (the registry's DuckDB oracles, or the batch recompute).

Every call into the program goes through a layer's public function so
the tracer (``tracing.instrument``) can put a span around it.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import gen
from .files import dir_bytes, parquet_rows
from .stats import median, tail

ANALYST_VIEWS = {
    "customer_metrics": ("revenue_by_category",),
    "customer_satisfaction": ("area_feedback",),
    "campaign_roi": ("campaign_summary",),
    "delivery_partner": ("delivery_partner",),
    "inventory_and_revenue": ("category_impact", "revenue_by_category"),
    "inventory_discrepancies": ("product_discrepancies",),
}


def analyst_sql() -> dict[str, str]:
    """The six analyst SQL texts ``runner.run_analytics`` runs."""
    from blinkit_etl_pipeline_spark.plans import parity

    return {
        "customer_metrics": parity.CUSTOMER_METRICS_SQL,
        "customer_satisfaction": parity.CUSTOMER_SATISFACTION_SQL,
        "campaign_roi": parity.CAMPAIGN_ROI_SQL,
        "delivery_partner": parity.DELIVERY_PARTNER_SQL,
        "inventory_and_revenue": parity.INVENTORY_AND_REVENUE_SQL,
        "inventory_discrepancies": parity.INVENTORY_DISCREPANCIES_SQL,
    }


class Check:
    """One correctness check of the gate."""

    def __init__(self, name: str, ok: bool, detail: str = ""):
        self.name, self.ok, self.detail = name, bool(ok), detail

    def to_dict(self) -> dict:
        return {"name": self.name, "ok": self.ok, "detail": self.detail}


def compare_frames(name: str, got, want) -> Check:
    """Order-insensitive exact comparison of two pandas frames with the
    engine's own canonical cell formatting."""
    from blinkit_etl_pipeline_spark.oracle_check import canonicalize

    if sorted(got.columns) != sorted(want.columns):
        return Check(name, False, f"columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        return Check(name, False, f"rows {len(got)} != {len(want)}")
    a, b = canonicalize(got), canonicalize(want)
    if a != b:
        bad = sum(1 for x, y in zip(a, b) if x != y)
        return Check(name, False, f"{bad} of {len(a)} rows differ")
    return Check(name, True, f"{len(a)} rows")


def run_oracles(names, sf_dir: str) -> dict:
    """Run registry oracles on DuckDB; name → frame, or the exception."""
    from blinkit_etl_pipeline_spark.oracle_check import duckdb_run
    from blinkit_etl_pipeline_spark.plans import all_oracle_sql

    sql = all_oracle_sql()
    out = {}
    for name in names:
        try:
            out[name] = duckdb_run(sql[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            out[name] = exc
    return out


def oracle_check(name: str, got_pdf, oracles: dict) -> Check:
    want = oracles.get(name)
    if want is None or isinstance(want, Exception):
        return Check(name, False, f"oracle error: {want!r}")
    return compare_frames(name, got_pdf, want)


class Workload:
    name = ""
    #: base-table scale of the generated inputs
    scale: gen.Scale

    #: registry oracles the gate compares against (DuckDB, input-only)
    ORACLES: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = 0  # attempted operations
        self.failures: list[str] = []
        self.oracles: dict = {}

    def load_oracles(self) -> None:
        """Run the gate's oracles; they read only the generated inputs."""
        self.oracles = run_oracles(self.ORACLES, self.in_dir)

    # -- helpers --------------------------------------------------------
    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name: str):
        return self.ctx.span(name)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self, label: str, fn, *args, **kwargs):
        """Run one user-visible operation; an exception is a failure."""
        self.ops += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — counted, not hidden
            self.fail(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    # -- the workload contract -------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def register(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def iteration(self) -> None:
        raise NotImplementedError

    def gate(self) -> list[Check]:
        raise NotImplementedError

    def metrics(self) -> dict:
        raise NotImplementedError

    def layer_metrics(self, spans: list[dict]) -> dict:
        return {}

    def exhausted(self) -> bool:
        """True when the workload has no more inputs to feed the loop."""
        return False


# ---------------------------------------------------------------------------
# batch_etl: the reference path — five jobs, then analyst SQL
# ---------------------------------------------------------------------------


class BatchEtl(Workload):
    name = "batch_etl"
    scale = gen.Scale(
        customers=600, parts=800, suppliers=100, orders=7500,
        lineitems=30000, events=4000, days=120, documents=200, embeddings=200,
    )
    QUERY_ROUNDS = 1
    #: registry oracle → curated table the batch job writes
    CURATED = {
        "revenue_by_category": "revenue_by_category",
        "area_feedback_metrics": "area_feedback_metrics",
        "campaign_performance": "campaign_performance_summary",
        "delivery_partner_performance": "delivery_partner_performance",
        "category_inventory_impact": "category_inventory_impact",
        "product_inventory_discrepancies": "product_inventory_discrepancies",
    }
    ORACLES = tuple(CURATED) + tuple(ANALYST_VIEWS)

    def generate(self) -> None:
        self.in_dir = os.path.join(self.ctx.work, "inputs")
        self.sizes = gen.write_base(self.in_dir, self.scale)
        r = {t: self.sizes[t][0] for t in self.sizes}
        # rows each job reads from its sources (sales: orders+items+
        # products, delivery: orders, feedback: events+customers+orders,
        # marketing: events, inventory: items (both snapshots)+products)
        self.source_rows = (
            (r["orders"] + r["lineitem"] + r["part"])
            + r["orders"]
            + (r["events"] + r["customer"] + r["orders"])
            + r["events"]
            + (r["lineitem"] + r["part"])
        )
        self.input_bytes = sum(
            self.sizes[t][1] for t in ("orders", "lineitem", "part", "customer", "events")
        )
        self.refresh_s: list[float] = []
        self.query_s: list[float] = []
        self.out_dirs: list[str] = []
        self.last_results: dict = {}
        self.job_failures = 0

    def register(self) -> None:
        from blinkit_etl_pipeline_spark.sources import testdata

        with self.span("testdata.register_blinkit"):
            testdata.register_blinkit(self.spark, self.in_dir)

    def _refresh(self) -> float:
        from blinkit_etl_pipeline_spark import runner

        out = os.path.join(self.ctx.work, f"out{len(self.out_dirs)}")
        shutil.rmtree(out, ignore_errors=True)
        self.out_dirs.append(out)
        t0 = time.perf_counter()
        report = self.op(
            "run_jobs_sequential", runner.run_jobs_sequential,
            self.spark, runner.RunnerConfig(self.in_dir, out), list(runner.ALL_JOBS),
        )
        wall = time.perf_counter() - t0
        self.ops += len(runner.ALL_JOBS) - 1  # five jobs, one op already counted
        if report is not None:
            for job, status in report.statuses.items():
                if status != "succeeded":
                    self.job_failures += 1
                    self.fail(f"{job}: {report.errors.get(job, status)}")
        return wall

    def _analytics(self, record: bool) -> None:
        from blinkit_etl_pipeline_spark import runner

        for name, df in runner.run_analytics(self.spark).items():
            t0 = time.perf_counter()
            with self.span(f"parity.{name}") as sp:
                rows = self.op(f"query {name}", df.collect)
                if sp is not None and rows is not None:
                    sp.attrs["rows_out"] = len(rows)
            if record:
                self.query_s.append(time.perf_counter() - t0)
            if rows is not None:
                self.last_results[name] = (df.columns, rows)

    def warm(self) -> None:
        self._refresh()
        self._analytics(record=False)

    def iteration(self) -> None:
        self.refresh_s.append(self._refresh())
        for _ in range(self.QUERY_ROUNDS):
            self._analytics(record=True)

    def gate(self) -> list[Check]:
        import pandas as pd

        out = self.out_dirs[-1]
        checks = []
        for oracle, table in self.CURATED.items():
            path = os.path.join(out, "curated", table)
            if not os.path.isdir(path):
                checks.append(Check(oracle, False, "curated table missing"))
                continue
            got = self.spark.read.parquet(path).toPandas()
            checks.append(oracle_check(oracle, got, self.oracles))
        for name in ANALYST_VIEWS:
            if name not in self.last_results:
                checks.append(Check(name, False, "no analyst result"))
                continue
            cols, rows = self.last_results[name]
            got = pd.DataFrame([tuple(r) for r in rows], columns=cols)
            checks.append(oracle_check(name, got, self.oracles))
        return checks

    def stored_bytes(self) -> int:
        out = self.out_dirs[-1]
        return sum(
            dir_bytes(os.path.join(out, z))[1] for z in ("processed", "curated")
        )

    def metrics(self) -> dict:
        q_tail = tail(self.query_s)
        return {
            "batch_rows_per_s": (self.source_rows / median(self.refresh_s), "rows/s"),
            "analyst_query_p50_s": (median(self.query_s), "s"),
            "analyst_query_tail_s": (q_tail["value"], "s", q_tail),
            "bytes_stored_per_input_byte": (self.stored_bytes() / self.input_bytes, "ratio"),
            "_op_samples": self.query_s,
            "_inputs": {
                "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in self.sizes.items()},
                "source_rows_per_refresh": self.source_rows,
                "refreshes": len(self.refresh_s),
            },
        }


# ---------------------------------------------------------------------------
# incremental_drops: slice-complete file drops through the IVM stores
# ---------------------------------------------------------------------------


class IncrementalDrops(Workload):
    name = "incremental_drops"
    scale = BatchEtl.scale
    SLICES = 8
    KINDS = ("orders", "feedback", "marketing", "inventory")
    FIRST_QUERY = {
        "orders": "customer_metrics",
        "feedback": "customer_satisfaction",
        "marketing": "campaign_roi",
        "inventory": "inventory_discrepancies",
    }
    #: the drop's own slices, and the current dimension frames it joins
    SOURCES = {
        "orders": ("orders", "order_items"),
        "feedback": ("feedback",),
        "marketing": ("marketing",),
        "inventory": ("inventory_old", "inventory_new"),
    }
    DIMS = {
        "orders": {"products": "b_products"},
        "feedback": {"customers": "b_customers", "orders": "b_orders"},
        "marketing": {},
        "inventory": {"products": "b_products"},
    }
    FILENAME = {
        "orders": "orders_drop_{:02d}.parquet",
        "feedback": "customer_feedback_drop_{:02d}.parquet",
        "marketing": "marketing_drop_{:02d}.parquet",
        "inventory": "inventory_drop_{:02d}.parquet",
    }

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        self.salt = f"s{int(rng.integers(1 << 30))}:"
        # seeded drop order: each round carries one drop of every kind
        order = []
        for i in rng.permutation(self.SLICES):
            order += [(k, int(i)) for k in rng.permutation(self.KINDS)]
        self.sequence = order
        self.in_dir = os.path.join(self.ctx.work, "inputs")
        self.sizes = gen.write_base(self.in_dir, self.scale)
        self.drop_root = os.path.join(self.in_dir, "drops")
        gen.write_drops(self.in_dir, self.drop_root, self.SLICES, self.salt)
        self._new_store("store")
        self.pos = 0
        self.drop_fresh_s: list[float] = []
        self.handle_s: list[float] = []
        self.query_s: list[float] = []
        self.routed_jobs: list[int] = []
        self.dropped: list[tuple[str, int]] = []
        self.drop_bytes = 0
        self.dropped_rows = 0
        self.job_failures = 0

    def register(self) -> None:
        from blinkit_etl_pipeline_spark.sources import readers, testdata

        with self.span("testdata.register_blinkit"):
            self.t = testdata.register_blinkit(self.spark, self.in_dir)
        self.icons = readers.rating_icons(self.spark)
        self.parts: dict = {}  # drop frames of this session

    def _new_store(self, name: str) -> None:
        self.store = os.path.join(self.ctx.work, name)
        shutil.rmtree(self.store, ignore_errors=True)
        self.present: set[str] = set()

    def _part(self, source: str, i: int):
        key = (source, i)
        if key not in self.parts:
            self.parts[key] = self.spark.read.parquet(
                os.path.join(self.drop_root, source, f"_s={i}")
            )
        return self.parts[key]

    def _inputs(self, kind: str, i: int) -> dict:
        t = self.t
        inputs = {s: self._part(s, i) for s in self.SOURCES[kind]}
        inputs.update({name: t[view] for name, view in self.DIMS[kind].items()})
        return inputs

    def _drop(self, kind: str, i: int, record: bool) -> None:
        from blinkit_etl_pipeline_spark import runner

        inputs = self._inputs(kind, i)
        filename = self.FILENAME[kind].format(i)
        t0 = time.perf_counter()
        with self.span("runner.handle_new_file_incremental"):
            report = self.op(
                f"drop {filename}", runner.handle_new_file_incremental,
                self.spark, self.store, filename, inputs,
            )
        t_handled = time.perf_counter()
        refreshed: set[str] = set()
        if report is not None:
            for job, status in report.statuses.items():
                if status != "succeeded":
                    self.job_failures += 1
                    self.fail(f"{filename} {job}: {report.errors.get(job, status)}")
                else:
                    refreshed.update(runner.CURATED_TABLES[job])
        self.present |= refreshed
        # the analyst queries over the views this drop refreshed
        first = self.FIRST_QUERY[kind]
        names = [first] + [q for q in ANALYST_VIEWS if q != first]
        fresh_at = None
        for q in names:
            views = set(ANALYST_VIEWS[q])
            if not (views & refreshed and views <= self.present):
                continue
            tq = time.perf_counter()
            self._query(q)
            now = time.perf_counter()
            if fresh_at is None:
                fresh_at = now
            if record:
                self.query_s.append(now - tq)
        if record:
            self.handle_s.append(t_handled - t0)
            self.drop_fresh_s.append((fresh_at or t_handled) - t0)
            self.routed_jobs.append(len(report.statuses) if report else 0)
            self.dropped.append((kind, i))
            for s in self.SOURCES[kind]:
                self.drop_bytes += dir_bytes(os.path.join(self.drop_root, s, f"_s={i}"))[1]
                self.dropped_rows += parquet_rows(os.path.join(self.drop_root, s, f"_s={i}"))

    def _query(self, name: str) -> None:
        # the runner's analyst SQL texts, one at a time: early drops have
        # not created every curated view yet
        df = self.spark.sql(analyst_sql()[name])
        with self.span(f"parity.{name}") as sp:
            rows = self.op(f"query {name}", df.collect)
            if sp is not None and rows is not None:
                sp.attrs["rows_out"] = len(rows)

    def warm(self) -> None:
        # one drop of each kind into a throwaway store, then start clean
        self._new_store("store_warm")
        for kind in self.KINDS:
            self._drop(kind, 0, record=False)
        self._new_store("store")

    def iteration(self) -> None:
        """One round: the next drop of every kind, in seeded order."""
        for _ in self.KINDS:
            if self.pos >= len(self.sequence):
                return
            kind, i = self.sequence[self.pos]
            self.pos += 1
            self._drop(kind, i, record=True)

    def exhausted(self) -> bool:
        return self.pos >= len(self.sequence)

    def gate(self) -> list[Check]:
        from functools import reduce

        from blinkit_etl_pipeline_spark import runner
        from blinkit_etl_pipeline_spark.operators import curated
        from blinkit_etl_pipeline_spark.pipelines import (
            customer_feedback,
            inventory_recon,
            marketing_roi,
            sales_revenue,
        )

        def union(source):
            parts = [self._part(source, i) for k, i in self.dropped if source in self.SOURCES[k]]
            return reduce(lambda a, b: a.unionByName(b), parts) if parts else None

        t = self.t
        o, items, fb, mk = union("orders"), union("order_items"), union("feedback"), union("marketing")
        io, inn = union("inventory_old"), union("inventory_new")
        full = {}
        if o is not None:
            full["revenue_by_category"] = sales_revenue.sales_fact(o, items, t["b_products"])
            full["delivery_partner"] = o
        if fb is not None:
            full["area_feedback"] = customer_feedback.enriched_feedback(
                fb, t["b_customers"], t["b_orders"], self.icons
            )
        if mk is not None:
            full["campaign_summary"] = marketing_roi.marketing_kpis(mk)
        if io is not None:
            rec = inventory_recon.reconcile(io, inn, t["b_products"]).cache()
            full["category_impact"] = rec
            full["product_discrepancies"] = rec

        def check(table: str) -> Check:
            name = f"incremental.{table}"
            if table not in full:
                return Check(name, False, "no drop reached this table")
            try:
                got = self.spark.sql(f"SELECT * FROM {runner.CURATED_VIEWS[table]}").toPandas()
                want = curated.curated_delta_view(table, [full[table]]).toPandas()
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                return Check(name, False, f"{type(exc).__name__}: {str(exc)[:300]}")
            return compare_frames(name, got, want)

        # the checks are small Spark jobs bound by driver overhead: run
        # them side by side (the gate is untimed; this keeps a run short)
        with ThreadPoolExecutor(len(runner.CURATED_VIEWS)) as pool:
            return list(pool.map(check, runner.CURATED_VIEWS))

    def metrics(self) -> dict:
        fresh_tail = tail(self.drop_fresh_s)
        q_tail = tail(self.query_s)
        store_files, store_bytes = dir_bytes(self.store)
        return {
            "drop_to_fresh_view_p50_s": (median(self.drop_fresh_s), "s"),
            "drop_to_fresh_view_tail_s": (fresh_tail["value"], "s", fresh_tail),
            "analyst_query_p50_s": (median(self.query_s), "s"),
            "analyst_query_tail_s": (q_tail["value"], "s", q_tail),
            "bytes_stored_per_input_byte": (store_bytes / self.drop_bytes, "ratio"),
            "_op_samples": self.drop_fresh_s,
            "_inputs": {
                "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in self.sizes.items()},
                "drops": len(self.dropped),
                "dropped_rows": self.dropped_rows,
                "dropped_bytes": self.drop_bytes,
                "salt": self.salt,
                "sequence": [f"{k}:{i}" for k, i in self.sequence[: self.pos]],
            },
        }

    def layer_metrics(self, spans: list[dict]) -> dict:
        from blinkit_etl_pipeline_spark import runner
        from blinkit_etl_pipeline_spark.operators import snapshot

        files, nbytes = dir_bytes(self.store)
        versions = sum(
            snapshot.current_version(runner.curated_store_path(self.store, t)) or 0
            for t in runner.CURATED_VIEWS
        )
        ingest = [s["wall_s"] for s in spans if s["name"].startswith("curated.ingest_curated_deltas.")]
        q = max(1, len(ingest) // 4)
        growth = median(ingest[-q:]) / median(ingest[:q]) if len(ingest) >= 2 else 1.0
        return {
            "curated.store_versions": versions,
            "curated.store_files": files,
            "curated.store_bytes": nbytes,
            "curated.bytes_written_per_drop_byte": nbytes / max(1, self.drop_bytes),
            "curated.ingest_growth": growth,
            "runner.routed_jobs_per_drop": (
                sum(self.routed_jobs) / len(self.routed_jobs) if self.routed_jobs else 0.0
            ),
        }


# ---------------------------------------------------------------------------
# corpus_curation: the LLM-data pass (dedup, retrieval, ANN)
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"
    DOCS = 600
    DUP_RATE = 0.10
    VECTORS = 1000
    ORACLES = (
        "ns_dedup_minhash_lsh", "ns_dedup_groups", "ns_dedup_simhash",
        "ns_ann_cosine_topk", "ns_ann_ivfpq_topk", "ns_text_bm25",
    )
    tiny = gen.Scale(
        customers=50, parts=50, suppliers=10, orders=1600, lineitems=200,
        events=200, days=30, documents=0, embeddings=0,
    )

    def generate(self) -> None:
        self.in_dir = os.path.join(self.ctx.work, "inputs")
        self.sizes = gen.write_base(self.in_dir, self.tiny)
        texts, self.truth = gen.near_duplicate_corpus(self.DOCS, self.DUP_RATE, self.ctx.seed)
        gen.write_corpus(
            self.in_dir, len(texts), self.VECTORS,
            np.random.default_rng(gen.BASE_SEED + 2), self.sizes, texts=texts,
        )
        self.n_docs = len(texts)
        self.pass_s: list[float] = []
        self.op_s: list[float] = []
        self.recall: list[float] = []
        self.results: dict = {}

    def register(self) -> None:
        self.docs = self.spark.read.parquet(os.path.join(self.in_dir, "documents.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(self.in_dir, "embeddings.parquet"))

    def _ops(self):
        from blinkit_etl_pipeline_spark.functions import text as T
        from blinkit_etl_pipeline_spark.operators import dedup, vector
        from blinkit_etl_pipeline_spark.plans import northstar as NS
        from blinkit_etl_pipeline_spark.plans.codebook import PQ_CODEBOOK, TRAINED_IVF_CODEBOOK

        docs, emb = self.docs, self.emb
        pairs = {}

        def minhash():
            pairs["df"] = dedup.minhash_lsh_pairs(
                docs, n=NS.NGRAM_N, threshold=NS.JACCARD_THRESHOLD)
            return pairs["df"]

        return [
            ("ns_dedup_exact_survivors", lambda: dedup.exact_dedup(docs)),
            ("ns_dedup_minhash_lsh", minhash),
            ("ns_dedup_groups", lambda: dedup.dedup_groups(pairs["df"])),
            ("ns_dedup_simhash", lambda: dedup.simhash_pairs(docs, max_distance=3)),
            ("ns_text_bm25", lambda: T.bm25_frame(
                docs, NS.BM25_TERMS, k1=NS.BM25_K1, b=NS.BM25_B, topk=NS.BM25_TOPK)),
            ("ns_ann_cosine_topk", lambda: vector.brute_force_topk(
                emb, NS.ANN_QUERY_IDS, k=NS.ANN_K)),
            ("ns_ann_ivfpq_topk", lambda: vector.ivfpq_topk(
                emb, NS.ANN_QUERY_IDS, TRAINED_IVF_CODEBOOK, PQ_CODEBOOK,
                k=NS.ANN_K, nprobe=NS.IVF_NPROBE, rerank=NS.PQ_RERANK)),
        ]

    def _pass(self, record: bool) -> None:
        t_pass = time.perf_counter()
        for name, build in self._ops():
            t0 = time.perf_counter()

            def run(build=build):
                df = build()
                return df.columns, df.collect()

            out = self.op(name, run)
            if record:
                self.op_s.append(time.perf_counter() - t0)
            if out is not None:
                self.results[name] = out
        if record:
            self.pass_s.append(time.perf_counter() - t_pass)
            self.recall.append(self._recall())

    def _recall(self) -> float:
        exact = self.results.get("ns_ann_cosine_topk")
        approx = self.results.get("ns_ann_ivfpq_topk")
        if not exact or not approx:
            return 0.0
        want = {(r["query_id"], r["neighbor_id"]) for r in exact[1]}
        got = {(r["query_id"], r["neighbor_id"]) for r in approx[1]}
        return len(want & got) / len(want) if want else 0.0

    def warm(self) -> None:
        self._pass(record=False)

    def iteration(self) -> None:
        self._pass(record=True)

    def gate(self) -> list[Check]:
        import pandas as pd

        checks = []
        for name in self.ORACLES:
            if name not in self.results:
                checks.append(Check(name, False, "no result"))
                continue
            cols, rows = self.results[name]
            got = pd.DataFrame([tuple(r) for r in rows], columns=cols)
            checks.append(oracle_check(name, got, self.oracles))
        # exact dedup keeps one document per distinct text
        cols, rows = self.results.get("ns_dedup_exact_survivors", ([], []))
        distinct = len(set(gen_texts(self.in_dir)))
        checks.append(Check(
            "exact_dedup_survivors", len(rows) == distinct, f"{len(rows)} vs {distinct} distinct texts"
        ))
        # every injected verbatim copy (Jaccard 1) must come out of
        # MinHash-LSH; edited copies are scored, not required (LSH is a
        # candidate filter, and short documents lose most shingles)
        found = self._found_pairs()
        missed = [p for p in self.truth["exact_pairs"] if tuple(p) not in found]
        checks.append(Check(
            "minhash_finds_injected_copies", not missed,
            f"{len(self.truth['exact_pairs']) - len(missed)} of "
            f"{len(self.truth['exact_pairs'])} verbatim copies paired",
        ))
        return checks

    def _found_pairs(self) -> set:
        rows = self.results.get("ns_dedup_minhash_lsh", ([], []))[1]
        return {(r["doc_a"], r["doc_b"]) for r in rows}

    def metrics(self) -> dict:
        from blinkit_etl_pipeline_spark.plans import northstar as NS

        near = self.truth["near_pairs"]
        found = self._found_pairs()
        return {
            "curation_docs_per_s": (self.n_docs / median(self.pass_s), "docs/s"),
            "near_dup_recall": (
                sum(tuple(p) in found for p in near) / max(1, len(near)), "ratio",
                {"base": len(near)},
            ),
            "ann_recall_at_5": (
                median(self.recall), "ratio",
                {"k": NS.ANN_K, "queries": len(NS.ANN_QUERY_IDS),
                 "base": NS.ANN_K * len(NS.ANN_QUERY_IDS)},
            ),
            "_op_samples": self.op_s,
            "_inputs": {
                "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in self.sizes.items()},
                "injected_exact": len(self.truth["exact_pairs"]),
                "injected_near": len(self.truth["near_pairs"]),
                "passes": len(self.pass_s),
            },
        }

    def layer_metrics(self, spans: list[dict]) -> dict:
        verified = len(self.results.get("ns_dedup_minhash_lsh", ([], []))[1])
        cands = self.ctx.lsh_candidates
        return {
            "dedup.lsh_candidate_pairs": cands,
            "dedup.verified_pairs": verified,
            "dedup.candidate_precision": verified / cands if cands else 0.0,
            "vector.ivfpq_topk.rows_scored_per_query": self._rows_scored(),
        }

    def _rows_scored(self) -> float:
        """Corpus rows inside each query's ``nprobe`` probed lists,
        averaged over queries (the IVF pruning the ADC pass pays for)."""
        from blinkit_etl_pipeline_spark.operators import vector
        from blinkit_etl_pipeline_spark.plans import northstar as NS
        from blinkit_etl_pipeline_spark.plans.codebook import TRAINED_IVF_CODEBOOK

        assigned = vector.ivf_assign(self.emb, TRAINED_IVF_CODEBOOK).select(
            "vec_id", "qvec", "centroid_id"
        ).toPandas()
        sizes = assigned["centroid_id"].value_counts().to_dict()
        cb = sorted((int(c), np.asarray(v, dtype=np.float64)) for c, v in TRAINED_IVF_CODEBOOK)
        cids = np.array([c for c, _ in cb])
        C = np.stack([v for _, v in cb])
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        q = assigned[assigned["vec_id"].isin(NS.ANN_QUERY_IDS)]
        total = 0
        for vec in q["qvec"]:
            x = np.asarray(vec, dtype=np.float64)
            cos = C @ (x / np.linalg.norm(x))
            for j in np.lexsort((cids, -cos))[: NS.IVF_NPROBE]:
                total += sizes.get(int(cids[j]), 0)
        return total / max(1, len(q))


def gen_texts(in_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(in_dir, "documents.parquet"), columns=["text"]).column(0).to_pylist()


WORKLOADS = {w.name: w for w in (BatchEtl, IncrementalDrops, CorpusCuration)}


