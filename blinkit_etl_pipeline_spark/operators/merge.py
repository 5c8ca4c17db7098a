"""MERGE / upsert: CDC-style table maintenance without a table format.

The reference's pipeline is append-only (its sinks are
``mode("overwrite")`` full rewrites — `code-files/etl-scripts/
01_sales_etl.py:96-101`); a production curated layer needs keyed
upserts. Delta/Iceberg/Hudi provide MERGE INTO natively; this module is
the plain-parquet spelling of the same copy-on-write strategy,
Spark-first:

- :func:`merge_upsert` — the DataFrame-level relation: matched target
  rows are replaced by their update row (or deleted when the update
  carries a delete flag), unmatched update rows are inserted. One
  left-anti join + one union. When the CDC batch is small (the normal
  case) the anti join broadcasts, so the TARGET NEVER SHUFFLES — the
  property that makes this viable against a 100 TB fact table.
- :func:`merge_into_partitioned` — the file-level copy-on-write loop:
  compute the partitions the update batch touches, read ONLY those,
  merge, and rewrite ONLY those via dynamic partition overwrite.
  Untouched partitions are never read or written, so merge cost scales
  with the touched slice, not the table.

Determinism: with ``version_col`` the newest update per key wins
(ties → deterministic via ``clean.dedup``'s ordering); without it the
caller owns key-uniqueness of the batch — duplicate keys flow into the
insert union verbatim (visible, not silently dropped), so pass
``version_col`` whenever the CDC source can redeliver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Hive escapePathName charset (mirrors Spark's ExternalCatalogUtils):
#: control chars plus the characters below are %XX-encoded in partition
#: directory names — matching what ``partitionBy`` itself writes, so
#: the explicit per-partition overwrite targets the same directory.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _escape_partition_value(v) -> str:
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _ESCAPE_CHARS else ch for ch in str(v)
    )


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


def merge_into_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_cols: Sequence[str],
    *,
    delete_col: str | None = None,
    version_col: str | None = None,
    check_moved_keys: bool = False,
) -> list[tuple]:
    """Copy-on-write MERGE into a hive-partitioned parquet table.

    Reads only the partitions present in ``updates``, merges, and
    rewrites EXACTLY those partition directories — one explicit
    overwrite per touched partition, not ``partitionOverwriteMode=
    dynamic``. The distinction matters for deletes: a dynamic overwrite
    only replaces partitions that appear in the written output, so a
    partition whose rows were ALL deleted would keep its old files
    (silent data resurrection); the explicit per-partition overwrite
    clears the directory even when the merge result for it is empty.
    The touched-partition list is collected to the driver — bounded by
    the CDC batch's partition spread (never table size) by
    construction, and each partition is one small job.

    A nonexistent ``path`` bootstraps: the first batch's live rows
    become the initial table (the streaming CDC sink's batch 0).
    A MERGE whose updates span every partition degrades to a full
    rewrite, as it must; the win is the common case (today's partition
    plus a late-data straggler or two).

    Precondition: partition-column values are IMMUTABLE per key. An
    update that moves a key to a different partition value only rewrites
    the new partition — the stale row in the old partition survives,
    leaving duplicate keys. Either include the partition columns in
    ``keys``, or pass ``check_moved_keys=True`` to scan the rest of the
    table for the batch's keys and raise if any live outside the
    touched partitions (one extra broadcast-semi-join pass over the
    table — affordable for CDC batches, opt-in for that reason).

    NULL partition values are supported: rows partition into the Hive
    default-partition directory (``__HIVE_DEFAULT_PARTITION__``), the
    same layout ``partitionBy`` writes, and match via null-safe
    equality.

    As a CDC sink (a change-file feed drained by
    ``streaming.file_source.run_available_now``): re-applying a batch
    converges to the same table (replace and delete are idempotent,
    inserts replace their key), so a replayed epoch is harmless.
    ``version_col`` picks the newest of several changes to one key
    within a batch; across batches, later epochs win by construction.
    """
    partition_cols = list(partition_cols)
    touched = [
        tuple(r) for r in updates.select(*partition_cols).distinct().collect()
    ]
    if not touched:
        return []

    def _clause(combo: tuple):
        clause = F.lit(True)
        for c, v in zip(partition_cols, combo):
            # null-safe: v=None must match NULL-partition rows, not
            # evaluate to NULL and silently drop the whole partition
            clause = clause & F.col(c).eqNullSafe(F.lit(v))
        return clause
    try:
        table = spark.read.parquet(path)
    except Exception:  # fresh table: first batch is pure inserts
        live = updates
        if version_col is not None or delete_col is not None:
            live = merge_upsert(
                updates.limit(0).drop(
                    *[c for c in (delete_col, version_col) if c]
                ),
                updates,
                keys,
                delete_col=delete_col,
                version_col=version_col,
            )
        live.write.partitionBy(*partition_cols).parquet(path)
        return touched
    pred = F.lit(False)
    for combo in touched:
        pred = pred | _clause(combo)
    if check_moved_keys:
        moved = (
            table.filter(~pred)
            .select(*keys)
            .join(F.broadcast(updates.select(*keys).distinct()), list(keys), "semi")
            .limit(1)
            .count()
        )
        if moved:
            raise ValueError(
                "merge_into_partitioned: update batch contains keys that "
                "already live in partitions outside the batch's partition "
                "values — a partition-moving update would leave stale "
                "duplicates. Include the partition columns in `keys` or "
                "fix the upstream CDC feed."
            )
    base = table.filter(pred)
    merged = merge_upsert(
        base, updates, keys, delete_col=delete_col, version_col=version_col
    )
    # break lineage from the path being overwritten (Spark refuses a
    # write that reads from its own destination)
    merged = merged.localCheckpoint(eager=True)
    for combo in touched:
        subdir = "/".join(
            f"{c}={_escape_partition_value(v)}"
            for c, v in zip(partition_cols, combo)
        )
        # empty result still overwrites: the old files are cleared
        merged.filter(_clause(combo)).drop(*partition_cols).write.mode(
            "overwrite"
        ).parquet(f"{path}/{subdir}")
    return touched
