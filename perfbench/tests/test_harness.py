"""Self-tests of the benchmark harness (no Spark needed)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from harness import gen, layers, stats
from harness.tracing import Span, self_time

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


# -- tail-percentile rule -----------------------------------------------------


@pytest.mark.parametrize(
    "n, p", [(1, 50), (19, 50), (20, 50), (21, 52), (30, 66), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p > 50:
        assert n * (100 - p) / 100 >= stats.TAIL_MIN_BEYOND
        assert n * (100 - (p + 1)) / 100 < stats.TAIL_MIN_BEYOND


def test_tail_reports_percentile_and_base():
    t = stats.tail([float(i) for i in range(100)])
    assert t == {"value": pytest.approx(89.1), "percentile": 90, "samples": 100}


# -- span self time -------------------------------------------------------------


def _span(i, start, end, parent=None, name="runner.job.x"):
    return Span(i, name, parent, "r", start, end)


def test_self_time_subtracts_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 4.0, 1),  # overlaps the first: counted once
        _span(4, 8.0, 12.0, 1),  # clipped to the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 2.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(1, 2.0, 5.5), []) == pytest.approx(3.5)


def test_self_times_sum_to_root_duration():
    root = _span(1, 0.0, 6.0)
    a, b = _span(2, 1.0, 2.0, 1), _span(3, 3.0, 5.0, 1)
    leaf = _span(4, 3.5, 4.0, 3)
    total = self_time(root, [a, b]) + self_time(a, []) + self_time(b, [leaf]) + self_time(leaf, [])
    assert total == pytest.approx(root.duration)


# -- metric names -----------------------------------------------------------------


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_pattern():
    names = list(layers.metric_names())
    spec = _benchmark()
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for n in names:
        assert layers.METRIC_NAME.match(n), n
    assert len(set(layers.metric_names())) == len(layers.metric_names())


def test_benchmark_per_layer_lists_every_layer_metric():
    spec = _benchmark()
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == layers.metric_names()


def test_benchmark_end_to_end_is_what_the_command_reports():
    import run

    spec = _benchmark()
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.END_TO_END
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_layer_has_a_self_time_metric():
    names = layers.metric_names()
    for layer in layers.LAYERS:
        assert f"layer.{layer}.self_s" in names


# -- idle-layer predictions --------------------------------------------------------


def test_idle_layer_predictions():
    assert "sources.sinks" in layers.IDLE["incremental_drops"]
    assert "sources.sinks" in layers.IDLE["corpus_curation"]
    assert "operators.curated" in layers.IDLE["batch_etl"]
    spans = [
        {"name": "sinks.write_partitioned", "layer": "sources.sinks"},
        {"name": "curated.read_curated", "layer": "operators.curated"},
    ]
    assert layers.idle_violations("batch_etl", spans) == ["curated.read_curated"]
    assert layers.idle_violations("incremental_drops", spans) == ["sinks.write_partitioned"]
    assert layers.idle_violations("corpus_curation", spans) == [
        "curated.read_curated", "sinks.write_partitioned",
    ]


def test_prediction_checks():
    spans = [
        {"name": "sinks.write_partitioned", "layer": "sources.sinks", "self_s": 3.0},
        {"name": "pipelines.sales_fact", "layer": "pipelines", "self_s": 1.0},
    ]
    assert layers.prediction_checks("batch_etl", spans) == [
        ("idle_layers", True, "no span in operators.curated, operators.dedup, "
         "operators.vector, functions.text"),
        ("largest_self_time.sources.sinks", True,
         "largest is sources.sinks (3.000 s; sources.sinks 3.000 s)"),
    ]
    spans[1]["self_s"] = 4.0
    assert not layers.prediction_checks("batch_etl", spans)[1][1]
    (name, ok, detail), = layers.prediction_checks("incremental_drops", spans)
    assert name == "idle_layers" and not ok and "sinks.write_partitioned" in detail


# -- inputs ------------------------------------------------------------------------


def test_generated_inputs_are_a_function_of_the_seed(tmp_path):
    small = gen.Scale(20, 20, 5, 1600, 50, 30, 5, 10, 10)
    a, b = tmp_path / "a", tmp_path / "b"
    assert gen.write_base(str(a), small) == gen.write_base(str(b), small)
    for t in os.listdir(a):
        assert (a / t).read_bytes() == (b / t).read_bytes(), t
    assert gen.near_duplicate_corpus(50, 0.2, 7) == gen.near_duplicate_corpus(50, 0.2, 7)
    assert gen.near_duplicate_corpus(50, 0.2, 7) != gen.near_duplicate_corpus(50, 0.2, 8)
    gen.write_drops(str(a), str(a / "drops"), 4, "s1:")
    gen.write_drops(str(b), str(b / "drops"), 4, "s1:")
    files = sorted(p.relative_to(a) for p in (a / "drops").rglob("*.parquet"))
    assert files == sorted(p.relative_to(b) for p in (b / "drops").rglob("*.parquet"))
    for f in files:
        assert (a / f).read_bytes() == (b / f).read_bytes(), f


def test_drops_are_slice_complete(tmp_path):
    import pyarrow.parquet as pq

    gen.write_base(str(tmp_path), gen.Scale(20, 20, 5, 400, 800, 300, 30, 10, 10))
    gen.write_drops(str(tmp_path), str(tmp_path / "drops"), 4, "s7:")

    def keys(source, cols):
        out = {}
        for i in range(4):
            d = tmp_path / "drops" / source / f"_s={i}"
            if d.is_dir():
                t = pq.read_table(str(d)).select(cols).to_pylist()
                out[i] = {tuple(r.values()) for r in t}
        return out

    orders, items = keys("orders", ["order_id"]), keys("order_items", ["order_id"])
    for i, ks in items.items():
        assert ks <= orders[i]  # an order's items sit in the order's slice
    old = keys("inventory_old", ["product_id", "date"])
    new = keys("inventory_new", ["product_id", "date"])
    for i in old:
        for j in new:
            assert i == j or not old[i] & new[j]
    assert len(orders) == 4


def test_near_duplicate_injection_rate():
    texts, truth = gen.near_duplicate_corpus(300, 0.1, 3)
    pairs = truth["exact_pairs"] + truth["near_pairs"]
    assert len(texts) == 330 and len(pairs) == 30
    for src, copy in truth["exact_pairs"]:
        assert texts[src] == texts[copy]


# -- command contract ------------------------------------------------------------


def test_command_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
