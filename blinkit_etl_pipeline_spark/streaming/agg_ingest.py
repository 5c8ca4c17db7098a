"""Streaming incremental-view maintenance: signed delta feed → the
persisted partial-aggregate store.

The streaming twin of ``operators/incremental.py::ingest_agg_deltas``
— the continuously-maintained materialized view (Materialize/DBSP's
deployment shape, or Spark's own streaming aggregation with the state
store swapped for the snapshot-store commit protocol, which makes the
view readable by ANY batch session, survives checkpoint loss, and
shares the stores' CAS/compaction/retraction lifecycle).

Exactly-once: the foreachBatch epoch id is stable across
crash-redelivery, and the agg store's guard is batch-grained — a
replayed epoch carries the same ``batch_id``, which the store's
manifest already lists (folds carry the set forward), so it appends
nothing.
Rows must carry ``__sign`` (+1 insert / −1 delete; a CDC feed maps
op→sign before this sink) and pre-quantized measures (ivm module
doc).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators import incremental
from .file_source import run_available_now


def run_agg_ingest(
    stream_df: DataFrame,
    checkpoint_dir: str,
    store_table: str,
    keys: list[str],
    sums: Mapping[str, Column],
    *,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain available signed-delta files into the aggregate store;
    returns after ``Trigger.AvailableNow`` completes. The live view is
    ``incremental.read_agg_store`` at any moment."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        incremental.ingest_agg_deltas(
            batch_df.sparkSession,
            store_table,
            batch_df,
            keys,
            sums,
            batch_id=f"epoch-{batch_id}",
        )

    return run_available_now(
        stream_df, checkpoint_dir, process, timeout_sec=timeout_sec
    )
