"""MERGE / upsert: CDC-style table maintenance.

The reference's pipeline is append-only (its sinks are
``mode("overwrite")`` full rewrites — `code-files/etl-scripts/
01_sales_etl.py:96-101`); a production curated layer needs keyed
upserts. Delta/Iceberg/Hudi provide MERGE INTO natively; this module
holds the relation, Spark-first:

- :func:`merge_upsert` — the DataFrame-level relation: matched target
  rows are replaced by their update row (or deleted when the update
  carries a delete flag), unmatched update rows are inserted. One
  left-anti join + one union. When the CDC batch is small (the normal
  case) the anti join broadcasts, so the TARGET NEVER SHUFFLES — the
  property that makes this viable against a 100 TB fact table.

The table-level copy-on-write MERGE is
:func:`operators.snapshot.merge_snapshot`: it reads only the files
whose manifest key range meets the batch, applies :func:`merge_upsert`
to their rows, and commits the rewrite plus the untouched files (by
reference) as one CAS version — no reader ever sees a half-written
table. It also creates a missing table from the first batch (the
streaming CDC sink's epoch 0). A snapshot table is not a
hive-partitioned directory: a bare ``spark.read.parquet`` of its root
would also read superseded files, so read it through its manifest
(``snapshot.read_snapshot``).

Determinism: with ``version_col`` the newest update per key wins
(ties → deterministic via ``clean.dedup``'s ordering); without it the
caller owns key-uniqueness of the batch — duplicate keys flow into the
insert union verbatim (visible, not silently dropped), so pass
``version_col`` whenever the CDC source can redeliver.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    *,
    delete_col: str | None = None,
    version_col: str | None = None,
) -> DataFrame:
    """SQL MERGE semantics over DataFrames (see module docstring).

    ``updates`` must carry the target's schema plus optionally
    ``delete_col`` (boolean: true ⇒ delete the matched key) and
    ``version_col`` (latest-wins dedup within the batch).
    """
    keys = list(keys)
    if version_col is not None:
        # latest-wins within the batch: highest version per key
        # survives; EQUAL versions tie-break over the remaining columns
        # so a redelivered batch always keeps the same row (the
        # idempotence the streaming CDC sink relies on)
        tiebreak = [
            F.col(c).asc_nulls_last()
            for c in updates.columns
            if c not in keys and c != version_col
        ]
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc_nulls_last(), *tiebreak
        )
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if version_col not in target.columns:
            updates = updates.drop(version_col)
    expected = set(target.columns) | ({delete_col} if delete_col else set())
    got = set(updates.columns)
    if got != expected:
        raise ValueError(
            f"updates schema mismatch: expected {sorted(expected)}, "
            f"got {sorted(got)}"
        )
    live = updates
    if delete_col is not None:
        live = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    # matched target rows (updates AND deletes) leave; the anti join
    # broadcasts whenever the update batch is under the threshold, so
    # the target side stays un-shuffled
    kept = target.join(
        F.broadcast(updates.select(*keys).distinct()), keys, "left_anti"
    )
    return kept.unionByName(live)
