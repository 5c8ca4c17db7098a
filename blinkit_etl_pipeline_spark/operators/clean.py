"""Cleaning operators: dedup, null-rejection, timestamp parsing.

Reference surface (SURVEY.md §2.2-2.3): ``dropDuplicates`` on single and
composite keys (01:53, 01:63, 03:76, 04:48, 05:53,60), ``isNotNull``
filters, ``to_timestamp``/``to_date`` parsing.

``dropDuplicates`` keeps an **arbitrary** row per key in both the
reference and Spark. For oracle hash-parity the canonical spelling here
is deterministic: ``row_number`` over an explicit tiebreak ordering
(SURVEY.md §2.13.6). ``dedup_compat`` keeps the reference's
nondeterministic behavior for workloads that don't need reproducibility
(it is cheaper: partial-agg instead of a full window sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup(df: DataFrame, keys: Sequence[str], tiebreak: Sequence[str] | None = None) -> DataFrame:
    """Deterministic dedup: keep the first row per key under ``tiebreak``.

    If ``tiebreak`` is None, orders by all non-key columns — any
    remaining full tie means the candidate rows are identical, so the
    kept row is well-defined either way.
    """
    if tiebreak is None:
        tiebreak = [c for c in df.columns if c not in keys]
    if not tiebreak:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_compat(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Reference-compat dedup (arbitrary surviving row, 01:53 semantics)."""
    return df.dropDuplicates(list(keys))


def require_not_null(df: DataFrame, *cols: str) -> DataFrame:
    """P5: conjunction of ``isNotNull`` filters (01:57-61 pattern)."""
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def parse_timestamp(df: DataFrame, col: str) -> DataFrame:
    """F1: ``to_timestamp`` in place (01:55, 03:78, 04:50)."""
    return df.withColumn(col, F.to_timestamp(F.col(col)))
