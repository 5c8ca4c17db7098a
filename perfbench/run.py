"""Benchmark command: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer metrics of the traced run. Every metric the workload defines
is also printed by name and unit on the lines before, and the full
artifact (environment, inputs, samples, spans, gate) is written to
``.bench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "blinkit_etl_pipeline_spark"
#: set-up repetitions whose median is setup_s
SETUP_REPS = 3
#: hard stop well inside the 180 s a run may take
WATCHDOG_S = 175
DRIVER_MEM = "4g"
#: the gated end-to-end metrics (BENCHMARK.json "end_to_end"), reported
#: with tracing off; the workload-specific metrics are printed and kept
#: in the artifact
END_TO_END = ("setup_s", "iteration_wall_s", "iteration_cpu_s")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, trace: bool) -> dict:
    """Pin and return the environment both sides of a comparison use."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    retained = "100000" if trace else "1000"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM's temp files and Spark's temp dirs stay in the checkout;
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.ui.retainedJobs={retained}",
            f"--conf spark.ui.retainedStages={retained}",
            f"--conf spark.sql.ui.retainedExecutions={retained}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    for k in ("SPARK_MASTER", "SPARK_GRAFT_MASTER", "SPARK_CONNECT_MODE_ENABLED"):
        os.environ.pop(k, None)
    env.update(processes="1", clients="1", master=f"local[{cpus}]")
    return env


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of one process and of its reaped children, in s."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root_pids: list[int]) -> float:
    """CPU seconds used so far by the given processes and all their
    descendants (the JVM's Python workers, live or reaped)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    total, todo, seen = 0.0, list(root_pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _proc_cpu_s(pid)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total


class Context:
    """What a workload sees: the session, its seed and scratch space,
    and the span hook (a no-op unless tracing)."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None
        self.tracing = False
        self.lsh_candidates = 0

    def span(self, name: str):
        if self.tracing and self.tracer is not None:
            return self.tracer.span(name)
        return nullcontext()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def measure(wl, seconds: float, cpu: list | None = None) -> list[float]:
    """Closed loop: iterate until ``seconds`` have passed (at least one
    iteration). Returns each iteration's wall time; appends each
    iteration's CPU seconds (this process, the JVM and its workers)
    to ``cpu``."""
    walls = []
    pids = [os.getpid(), wl.spark.sparkContext._gateway.proc.pid]
    t_end = time.perf_counter() + seconds
    while True:
        c0, t0 = process_tree_cpu_s(pids), time.perf_counter()
        wl.iteration()
        walls.append(time.perf_counter() - t0)
        if cpu is not None:
            cpu.append(process_tree_cpu_s(pids) - c0)
        if time.perf_counter() >= t_end or wl.exhausted():
            return walls


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGALRM, lambda *_: (_ for _ in ()).throw(TimeoutError("watchdog")))
    signal.alarm(WATCHDOG_S)

    from harness import layers, tracing
    from harness.stats import median
    from harness.workloads import WORKLOADS, Check

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work, bool(args.trace))
    cores = int(env["SPARK_GRAFT_CPUS"])

    from blinkit_etl_pipeline_spark import session

    ctx = Context(args.seed, work)
    run_id = f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    setup_s, session_s, kept = [], [], []
    ctx.tracing = bool(args.trace)
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            kept.append(ctx.spark)  # keep old ids alive: the engine memoizes by id()
            ctx.spark.stop()
        ctx.spark = session.get_session(f"perfbench-{args.workload}")
        session_s.append(time.perf_counter() - t0)
        if args.trace:
            if ctx.tracer is None:
                ctx.tracer = tracing.Tracer(ctx.spark, run_id)
            ctx.tracer.spark = ctx.spark
            ctx.tracer.record("session.get_session", t0, t0 + session_s[-1])
        wl.register()
        setup_s.append(time.perf_counter() - t0)
    ctx.tracing = False

    overhead, warm_s = None, None
    iter_cpu: list[float] = []
    steal0 = cpu_ticks()
    if args.trace:
        # layer costs are attributed on a warm JVM: one untimed pass
        # first (the oracles, which read only the inputs, run meanwhile)
        t0 = time.perf_counter()
        oracle_thread = threading.Thread(target=wl.load_oracles, name="oracles")
        oracle_thread.start()
        wl.warm()
        warm_s = time.perf_counter() - t0
        oracle_thread.join()
        untraced = measure(wl, args.seconds / 2, iter_cpu)
        n_setup_spans = len(ctx.tracer.spans)
        undo = tracing.instrument(ctx.tracer)
        ctx.tracing = True
        try:
            iters = measure(wl, args.seconds / 2)
        finally:
            ctx.tracing = False
            undo()
        overhead = median(iters) / median(untraced) - 1.0
        ctx.tracer.attach_counters()
        lsh = [s for s in ctx.tracer.spans if s.name == "dedup.minhash_lsh_pairs"]
        if lsh:
            ctx.lsh_candidates = ctx.tracer.sql_join_output_rows(lsh[-1], "band")
    else:
        # the end-to-end run starts measuring on a cold JVM, as a
        # scheduled job run does: JIT and codegen are part of the cost
        iters = measure(wl, args.seconds, iter_cpu)
    steal1 = cpu_ticks()
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    if not args.trace:
        wl.load_oracles()

    t_gate = time.perf_counter()
    checks = wl.gate()
    gate_s = time.perf_counter() - t_gate
    if args.trace:
        spans = ctx.tracer.to_records(cores)
        traced = spans[n_setup_spans:]
        checks += [Check(n, ok, d) for n, ok, d in layers.prediction_checks(args.workload, traced)]
    for c in checks:
        if not c.ok:
            wl.fail(f"gate {c.name}: {c.detail}")
    m = wl.metrics()
    rss = vm_hwm_mb("self") + vm_hwm_mb(ctx.spark.sparkContext._gateway.proc.pid)
    attempted = wl.ops + len(checks)
    failed = len(wl.failures)

    named = {k: v for k, v in m.items() if not k.startswith("_")}
    named.update(
        setup_s=(median(setup_s), "s"),
        iteration_wall_s=(median(iters), "s"),
        iteration_cpu_s=(median(iter_cpu), "s"),
        peak_rss_mb=(rss, "MB"),
        failed_op_ratio=(failed / attempted, "ratio", {"failed": failed, "attempted": attempted}),
    )
    e2e = {k: named[k][:2] for k in END_TO_END}
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "environment": env,
        "inputs": m["_inputs"],
        "setup": {
            "reps_s": setup_s, "session_s": session_s, "generate_s": generate_s,
            "warm_pass_s": warm_s, "gate_s": gate_s,
        },
        # share of the machine's CPU time the hypervisor took while measuring
        "cpu_steal_share": steal_share,
        "iterations_s": iters,
        "op_samples_s": m["_op_samples"],
        "metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
                    for k, v in named.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "gate": [c.to_dict() for c in checks],
        "failures": wl.failures,
    }
    if args.trace:
        extra = wl.layer_metrics(traced)
        extra["runner.jobs_failed"] = getattr(wl, "job_failures", 0)
        per_layer = layers.per_layer_metrics(spans[:n_setup_spans], traced, len(iters), extra)
        per_layer["trace_overhead_ratio"] = overhead
        artifact.update(
            spans=spans,
            tracing_overhead_ratio=overhead,
            layer_self_s=layers.self_time_by_layer(traced),
            per_layer=per_layer,
        )
        units = layers.metric_names()
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    path = os.path.join(
        ROOT, ".bench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for k, v in artifact["metrics"].items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    for c in checks:
        print(f"gate {'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail}")
    for f in wl.failures:
        print(f"failure: {f}")
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }
    shutdown(ctx.spark)
    signal.alarm(0)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — already closing
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
