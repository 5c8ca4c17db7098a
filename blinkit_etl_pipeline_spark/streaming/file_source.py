"""Structured-Streaming file source: the reference's event-driven
incremental contract, Spark-first (SURVEY.md §2.10).

The reference reacts to S3 ``ObjectCreated`` events: Lambda routes each
new CSV to ETL jobs. Spark's file stream source reproduces exactly that
contract natively — new-file detection, per-batch processing, and
exactly-once via checkpointed file tracking — with
``foreachBatch`` + ``Trigger.AvailableNow``:

- ``Trigger.AvailableNow`` drains all currently-available files then
  stops: the batch-scheduler mode (a cron'd run processes only files
  that arrived since the last checkpoint — Glue-bookmark semantics, C5).
- ``foreachBatch`` hands each micro-batch to a normal batch function, so
  the per-pipeline logic is shared verbatim with the batch runner.
- The checkpoint directory *is* the bookmark state; deleting it
  reprocesses from scratch (the reference's crawler-rebuild analogue).

At scale: ``maxFilesPerTrigger`` bounds micro-batch size;
``latestFirst`` drains backlogs newest-first when freshness matters.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    fmt: str = "csv",
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source streaming DataFrame (csv or parquet directory)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if fmt == "csv":
        reader = reader.option("header", str(header).lower())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def _drain(writer, checkpoint_dir: str, timeout_sec: int) -> StreamingQuery:
    """Start ``writer`` as a checkpointed ``Trigger.AvailableNow`` query
    and wait for it to drain. A query still running after
    ``timeout_sec`` is stopped (no straggler leaks into the session)
    and reported as a ``TimeoutError``: a partial drain is not done."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        # the checkpoint's commit log names each finished epoch
        commits = os.path.join(checkpoint_dir, "commits")
        names = os.listdir(commits) if os.path.isdir(commits) else []
        last = max((int(f) for f in names if f.isdigit()), default=None)
        raise TimeoutError(
            f"stream at checkpoint {checkpoint_dir} did not drain within "
            f"{timeout_sec}s; last committed epoch: {last}"
        )
    return q


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    process_batch: Callable[[DataFrame, int], None],
    *,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Drain all available files through ``process_batch(batch_df,
    epoch)``, then stop. Every file-drop ingest is this call with the
    store's batch function as ``process_batch``, e.g.
    ``lambda df, e: incremental.ingest_pq_codes(df.sparkSession, store,
    df, codebook)``. Raises ``TimeoutError`` if the drain does not
    finish within ``timeout_sec``.

    Exactly-once per file, across invocations and crashes:

    - the checkpoint delivers each file to one epoch, and a crash
      replays the same epoch id with the same files;
    - batch-keyed stores (agg/curated, HLL, CMS, drift) must take
      ``batch_id=f"epoch-{epoch}"``, so the manifest's committed batch
      ids turn a replay into a no-op;
    - id-keyed stores (LSH, PQ, SQ8, BM25/bigram, span, k-NN,
      tombstones) absorb a replay through their id guard, which also
      catches a byte-copied redrop under a new file name;
    - SCD2 and MERGE absorb a replay by construction (re-applying a
      batch converges to the same table).
    """
    return _drain(
        stream_df.writeStream.foreachBatch(process_batch),
        checkpoint_dir,
        timeout_sec,
    )


def stream_to_memory(
    agg_df: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    *,
    output_mode: str = "complete",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Run a streaming aggregate into an in-memory table (smoke/driver
    checks; real deployments use a parquet/Delta sink)."""
    return _drain(
        agg_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode),
        checkpoint_dir,
        timeout_sec,
    )
