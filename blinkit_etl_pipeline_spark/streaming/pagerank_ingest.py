"""Streaming PageRank maintenance: signed edge-delta feed → maintained
per-iteration rank-mass state in the persisted agg store.

The streaming twin of ``operators/graph.py::pagerank_delta``, composing
it with the IVM delta store (``operators/incremental.py::
ingest_agg_deltas``) the way the curated stores maintain revenue: two
snapshot tables hold the whole state —

- **edge store**: signed (src, dst) multiplicity partials; the live
  edge multiset is the merge-on-read fold (work ∝ batches, keys ∝
  distinct edges).
- **state store**: per-iteration received-mass vectors (node, it, s);
  ``pagerank_delta``'s output IS signed s-deltas, so maintenance is a
  plain additive ingest — the proven ns_incr_* algebra.

Batch order matters INSIDE an epoch: state deltas commit BEFORE edge
deltas, and every apply starts by asking the stores which commits of
this epoch already exist (``snapshot.has_batch`` — each manifest lists
its committed batch ids, compaction carries them forward, and the
check reads no store data). Unlike the additive ingests (agg deltas,
LSH signatures), the delta computation READS the stores it maintains, so a
replay against already-updated stores would compute garbage (and trip
the over-delete guard); the up-front check turns every replay into
exactly the remaining commits: edges-present → no-op; state-present →
finish the edge commit only; neither → full apply. Committing edges
first would instead let a replay ingest a state delta computed against
the wrong edge set. Bootstrap detection keys on the EDGE store for the
same reason (it is the last store an epoch touches, so its presence
implies a complete bootstrap).

Contract (inherited from ``pagerank_delta``, guards raise): the first
batch is insert-only and defines the graph; later batches must not add
or empty nodes. N and the iteration depth are pinned write-once in
state-store table properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph, incremental, snapshot
from ..operators.ivm import COUNT_COL

_EDGE_KEYS = ["src", "dst"]
_STATE_KEYS = ["node", "it"]


def live_edges(spark: SparkSession, edge_store: str) -> DataFrame:
    """The current edge multiset: fold the signed partials, then
    re-expand multiplicity (parallel edges count as parallel — the
    ``pagerank`` contract)."""
    m = incremental.read_agg_store(spark, edge_store, _EDGE_KEYS, [])
    if m.filter(F.col(COUNT_COL) < 0).limit(1).count():
        raise snapshot.SnapshotError(
            f"edge store {edge_store} folded to a negative multiplicity "
            "— an over-delete was ingested upstream"
        )
    return (
        m.select(
            "src",
            "dst",
            F.explode(F.sequence(F.lit(1), F.col(COUNT_COL))).alias("_i"),
        )
        .drop("_i")
    )


def apply_edge_batch(
    spark: SparkSession,
    edge_store: str,
    state_store: str,
    batch: DataFrame,
    batch_id: str,
    iterations: int = 8,
) -> None:
    """Fold one signed edge batch into both stores (idempotent per
    ``batch_id``). First-ever batch bootstraps via the full
    ``pagerank_state`` run; every later batch pays only the delta
    propagation. The replay check runs BEFORE the delta computation:
    a redelivered epoch replayed against the already-updated stores
    would re-delete already-deleted edges and trip pagerank_delta's
    over-delete guard — the ingest-level redelivery guard sits too
    late for an operator that READS the stores it maintains."""
    if snapshot.current_version(edge_store) is None:
        if "__sign" in batch.columns and (
            batch.filter(F.col("__sign") < 0).limit(1).count()
        ):
            raise ValueError(
                "pagerank ingest: bootstrap batch must be insert-only "
                "(it defines the graph)"
            )
        edges = batch.select("src", "dst")
        if not snapshot.has_batch(state_store, batch_id):
            # (a replayed crashed bootstrap skips straight to edges)
            state, n = graph.pagerank_state(edges, iterations)
            # Pin format props BEFORE the state commit (module
            # convention, see ingest_bkq_sketch): a crash between the
            # ingest and a later pin would leave the state 'seen' but
            # unpinned — every subsequent epoch would KeyError on
            # pagerank_n forever. ensure_table_properties is
            # idempotent link-CAS, so a replay re-pinning the same
            # values (insert-only bootstrap ⇒ same graph ⇒ same n)
            # is safe. pagerank_srcs is contract-invariant (new /
            # emptied nodes raise), pinned so later epochs' pre-flight
            # routing never re-scans the folded edge store (r9 review).
            n_srcs = edges.select("src").distinct().count()
            snapshot.ensure_table_properties(
                state_store,
                {
                    "pagerank_n": n,
                    "pagerank_iterations": iterations,
                    "pagerank_srcs": n_srcs,
                },
            )
            incremental.ingest_agg_deltas(
                spark,
                state_store,
                state.withColumn("__sign", F.lit(1)),
                _STATE_KEYS,
                {"s": F.col("s")},
                batch_id=batch_id,
            )
        incremental.ingest_agg_deltas(
            spark,
            edge_store,
            edges.withColumn("__sign", F.lit(1)),
            _EDGE_KEYS,
            {},
            batch_id=batch_id,
        )
        return
    if snapshot.has_batch(edge_store, batch_id):
        return  # epoch fully applied (edges commit last)
    if snapshot.has_batch(state_store, batch_id):
        # crash landed between the state and edge commits: the state
        # already holds this epoch's deltas — just finish the edges
        incremental.ingest_agg_deltas(
            spark,
            edge_store,
            batch.select("src", "dst", "__sign"),
            _EDGE_KEYS,
            {},
            batch_id=batch_id,
        )
        return
    props = snapshot.table_properties(state_store)
    n = int(props["pagerank_n"])
    iters = int(props["pagerank_iterations"])
    old = live_edges(spark, edge_store)
    state = incremental.read_agg_store(
        spark, state_store, _STATE_KEYS, ["s"]
    ).select("node", "it", "s")
    # r9: route by the pre-flight changed-src fraction — localized
    # churn pays the frontier-proportional delta propagation, dense
    # churn re-bootstraps and ingests the state DIFF; both paths
    # return signed deltas against the current state, so the store
    # fold below is identical either way (and bit-equal to a fresh
    # run on the new edge set)
    srcs_prop = props.get("pagerank_srcs")
    _ranks, dstate, _method = graph.pagerank_maintain(
        old,
        state,
        n,
        batch,
        iters,
        n_srcs=int(srcs_prop) if srcs_prop is not None else None,
    )
    incremental.ingest_agg_deltas(
        spark,
        state_store,
        dstate.withColumn("__sign", F.lit(1)),
        _STATE_KEYS,
        {"s": F.col("s")},
        batch_id=batch_id,
    )
    incremental.ingest_agg_deltas(
        spark,
        edge_store,
        batch.select("src", "dst", "__sign"),
        _EDGE_KEYS,
        {},
        batch_id=batch_id,
    )


def pagerank_from_store(
    spark: SparkSession, edge_store: str, state_store: str
) -> DataFrame:
    """Current ranks from the maintained state: base + the last
    iteration's folded mass vector — a (nodes)-sized read, no power
    method."""
    props = snapshot.table_properties(state_store)
    n = int(props["pagerank_n"])
    iters = int(props["pagerank_iterations"])
    base = (
        (graph.DAMP_DEN - graph.DAMP_NUM) * graph.RANK_SCALE
    ) // (graph.DAMP_DEN * n)
    e = live_edges(spark, edge_store)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    s_last = (
        incremental.read_agg_store(spark, state_store, _STATE_KEYS, ["s"])
        .filter(F.col("it") == iters)
        .select("node", "s")
    )
    return nodes.join(s_last, "node", "left").select(
        "node",
        (F.lit(base) + F.coalesce("s", F.lit(0))).cast("long").alias(
            "rank_q"
        ),
    )
