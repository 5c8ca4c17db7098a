"""Sinks: partitioned snappy-parquet writers (SURVEY.md §2.1 S5/S6).

Scale notes (SURVEY.md §4.4):

- The reference writes ``partitionBy("year","month","day")`` straight
  from the upstream partitioning — at 100 TB every task writes a file
  into every date partition (small-file explosion). We repartition by
  the partition columns first so each output partition is written by
  few tasks; AQE coalescing keeps the shuffle cheap.
- ``maxRecordsPerFile`` bounds the other direction: after the
  repartition a hot date lands in ONE task, and without a cap that task
  writes one huge file (no read parallelism, giant row groups). The cap
  rolls files at a fixed record count, so output file sizes are bounded
  on both ends.
- ``sort_cols``: sorting rows *within* each output task clusters values
  so parquet row-group min/max statistics become selective — a reader
  filtering on the sort key skips whole row groups instead of scanning
  everything. Costs one in-memory sort per task at write time, pays on
  every subsequent read.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default file-roll cap. At ~100 bytes/row this bounds files to
#: ~500 MB before compression — large enough for scan efficiency,
#: small enough for read parallelism and retry granularity.
DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
    *,
    max_records_per_file: int | None = DEFAULT_MAX_RECORDS_PER_FILE,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """S5: partitioned parquet sink (reference 01:96-101, 03:117-122):
    overwrite, snappy, repartitioned by the partition columns first."""
    if partition_cols:
        df = df.repartition(*partition_cols)
    if sort_cols:
        # prefix with the partition columns: FileFormatWriter requires
        # task rows ordered by partition cols and would otherwise insert
        # its own (unstable) sort, destroying the sort_cols clustering
        df = df.sortWithinPartitions(*partition_cols, *sort_cols)
    writer = (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .format("parquet")
        .option("compression", "snappy")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(int(max_records_per_file)))
    writer.save(path)


def write_curated(df: DataFrame, path: str) -> None:
    """S6: unpartitioned curated sink (reference 03:143-146), overwrite.

    Curated aggregates are small; coalesce to one file for cheap reads.
    """
    df.coalesce(1).write.mode("overwrite").format("parquet").save(path)


def zorder_value(cols: Sequence[Column], bits: int = 21) -> Column:
    """Morton (Z-order) interleave of up to three non-negative integer
    columns → one bigint clustering key, as a pure Catalyst expression
    (a constant-folded sum of shift/mask terms — JVM whole-stage
    codegen, no UDF).

    Bit ``i`` of column ``j`` lands at interleaved position
    ``i·ncols + j``, so a range over the z-value corresponds to a
    locality-preserving curve through the multi-dimensional key space:
    sorting by it clusters rows that are close in EVERY dimension,
    which is what makes multi-column min/max skipping work where a
    lexicographic sort only serves its leading column.

    ``bits`` per dimension (21 ⇒ 3·21 = 63 ≤ bigint). Caller maps raw
    values into [0, 2^bits) first (truncate timestamps, bucket floats);
    values above the range raise rather than silently aliasing.
    """
    ncols = len(cols)
    if not 1 <= ncols <= 3:
        raise ValueError("zorder_value interleaves 1-3 columns")
    if bits * ncols > 63:
        raise ValueError("bits * ncols must fit in a bigint (<= 63)")
    guard = F.lit(True)
    for c in cols:
        guard = guard & (c >= 0) & (c < F.lit(1 << bits))
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        cb = c.cast("bigint")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(cb, i).bitwiseAND(F.lit(1)), i * ncols + j
            )
    return F.when(guard, z).otherwise(
        F.raise_error(
            F.lit(f"zorder_value: input outside [0, 2^{bits})")
        )
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    *,
    num_files: int,
    bits: int = 21,
    mode: str = "overwrite",
    rowgroup_bytes: int | None = None,
) -> None:
    """Z-order-clustered layout: multi-dimensional data skipping.

    :func:`write_range_clustered` is exact for ONE dimension; queries
    that filter on several columns (user AND time; lat AND lon) leave
    its trailing columns unsorted, so their min/max stats span the
    whole domain and skip nothing. Interleaving the key bits
    (:func:`zorder_value`) makes every dimension's values locally
    clustered in every file and row group — each column's footer stats
    become tight for ALL filtered columns at once, and a conjunctive
    predicate prunes multiplicatively.

    Same write shape as the range sink: ``repartitionByRange`` on the
    z-value (disjoint file ranges) + ``sortWithinPartitions`` (tight
    row groups); the z column itself is dropped before writing —
    it is layout, not data.
    """
    z = zorder_value([F.col(c) for c in cluster_cols], bits=bits)
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    writer = out.write.mode(mode).format("parquet")
    if rowgroup_bytes:
        writer = writer.option("parquet.block.size", str(int(rowgroup_bytes)))
    writer.save(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    *,
    num_files: int,
    mode: str = "overwrite",
    rowgroup_bytes: int | None = None,
) -> None:
    """Range-clustered unpartitioned layout: the data-skipping sink for
    big fact tables whose query predicate is a range (timestamps,
    scores, ids) rather than a low-cardinality partition column.

    ``repartitionByRange`` gives files DISJOINT value ranges (a sampled
    range partitioner — at 100 TB, cheap relative to the write) and
    ``sortWithinPartitions`` orders rows inside each file, so parquet
    row-group min/max statistics become tight, non-overlapping
    intervals. A reader filtering on the cluster key then skips whole
    files via footer stats and whole row groups inside the surviving
    file — the poor man's z-order, exact for one dimension.

    ``rowgroup_bytes`` shrinks parquet's row-group size so skipping
    granularity is finer (default 128 MB is tuned for scans, not
    point-ish range reads).
    """
    out = df.repartitionByRange(num_files, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    writer = out.write.mode(mode).format("parquet")
    if rowgroup_bytes:
        writer = writer.option("parquet.block.size", str(int(rowgroup_bytes)))
    writer.save(path)


def rowgroup_stats(path: str, column: str) -> list[dict]:
    """Layout QA: per-row-group (file, row_group, num_rows, min, max)
    for ``column``, read from parquet footers with pyarrow — the
    evidence that a clustered write actually produced skippable
    statistics. Driver-side by design: footers are metadata, not data.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        idx = {
            meta.schema.column(i).name: i for i in range(meta.num_columns)
        }[column]
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            out.append(
                {
                    "file": os.path.basename(f),
                    "row_group": rg,
                    "num_rows": meta.row_group(rg).num_rows,
                    "min": st.min,
                    "max": st.max,
                }
            )
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    *,
    sorted_by_key: bool = True,
) -> None:
    """Persist as a BUCKETED (and bucket-sorted) catalog table —
    the co-location contract that removes the shuffle from every
    subsequent equi-join and aggregation on ``key``.

    ``bucketBy(n, key)`` fixes ``hash(key) % n`` at WRITE time; two
    tables bucketed the same way sort-merge-join with ZERO Exchange
    (each task pairs bucket i with bucket i), and a ``groupBy(key)``
    reads pre-clustered input. At 100 TB this is the difference
    between re-shuffling the fact table on every query and paying the
    shuffle ONCE at ingest — the same economics as the clustered index
    stores in operators/snapshot.py, expressed through Spark's own
    catalog so Catalyst plans it automatically (pytest pins the
    exchange-free plan). Requires ``saveAsTable`` (bucket metadata
    lives in the catalog, not the parquet footers).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sorted_by_key:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)
