"""Streaming COUNT-DISTINCT maintenance: file drops → persisted HLL
registers → per-group distinct estimates on demand.

The streaming twin of ``operators/sketch.py::hll_distinct`` (same
layering as ``bkq_ingest``): each micro-batch folds to its own (group,
bucket, max-rank) register partials — ≤512 rows per group touched by
the batch, work ∝ batch — and appends under the CAS commit protocol
keyed by the epoch id; the store's manifest lists committed epoch ids,
so crash-redelivered epochs append nothing. Registers are a
max-semilattice: reads fold the history with a plain groupBy-max, and
the streamed estimate equals the one-shot batch sketch over everything
that arrived, for ANY arrival order and batch split
(``tests/test_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators import incremental
from .file_source import run_available_now


def run_hll_ingest(
    stream_df: DataFrame,
    checkpoint_dir: str,
    store_table: str,
    group_cols: list[str],
    value_col: str,
    *,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain available files into the HLL register store; returns
    after ``Trigger.AvailableNow`` completes."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        incremental.ingest_hll_registers(
            batch_df.sparkSession,
            store_table,
            batch_df,
            group_cols,
            value_col,
            batch_id=f"epoch-{batch_id}",
        )

    return run_available_now(
        stream_df, checkpoint_dir, process, timeout_sec=timeout_sec
    )


def distinct_from_store(
    spark: SparkSession, store_table: str, group_cols: list[str]
) -> DataFrame:
    """Current per-group distinct estimates from the maintained
    registers."""
    return incremental.hll_distinct_from_store(
        spark, store_table, group_cols
    )
