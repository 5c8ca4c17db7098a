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
- :func:`scd2_apply_snapshot` — the deployment shape: a hash-bucketed
  dim in a snapshot-store table, copy-on-write of only the touched
  buckets through the snapshot layer's one rewrite loop, CAS commits,
  MVCC reads; a change-file feed streams into it through
  ``streaming.file_source.run_available_now``. The dim is read through
  its manifest (``snapshot.read_snapshot``), not as a bare
  ``__bucket=N/`` directory tree.

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
    """Copy-on-write :func:`scd2_apply` against a bucketed dimension on
    disk — the deployment shape. The dim is bucketed by
    ``hash(key) % n_buckets`` (immutable per key, so a key's versions
    always live in one bucket) in a snapshot-store table whose manifest
    tags every file with its bucket; a change batch reads and rewrites
    ONLY the buckets its keys hash into, and commits them plus the
    untouched buckets' files (by reference) as ONE CAS version
    (:func:`snapshot.rewrite_buckets`). Readers resolve a manifest once,
    so they never see a bucket absent and can pin any version (time
    travel). A conflict re-runs the apply on the winner, so concurrent
    writers (and racing creators of a missing table) all land.

    Same maintenance semantics as :func:`scd2_apply` (per-key rebuild
    of touched keys, redelivery-idempotent by construction: re-applied
    observations compress into the versions they already created).
    The bucket count is a write-once FORMAT property — a store built
    with one count can never be appended with another (the
    ``ingest_bkq_sketch`` k-pin convention); ``None`` uses the store's
    pinned count (64 for a new store).

    Returns the touched bucket ids.
    """
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

    touched = sorted(
        int(r["b"]) for r in batch.select(bcol().alias("b")).distinct().collect()
    )
    if not touched:
        return []

    def rebuild(base: DataFrame | None) -> DataFrame:
        dim = (
            scd2_build(batch, key, attr, ts, tiebreak)
            if base is None
            else scd2_apply(base, batch, key, attr, ts, tiebreak)
        )
        return dim.withColumn(snapshot.BUCKET_COL, bcol())

    snapshot.rewrite_buckets(spark, table, touched, rebuild)
    return touched


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
