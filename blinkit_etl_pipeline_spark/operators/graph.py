"""Iterative graph algorithms on DataFrames — PageRank in exact
integer arithmetic.

Web-graph centrality is a first-class signal in large-scale training
-data curation (OPIC/Harmonic centrality in Common Crawl, PageRank
features in quality classifiers), and PageRank is the canonical
"iterative algorithm on Spark" shape: per iteration, ONE shuffle
joining the rank vector to the edge list plus one node-keyed
aggregate. This module keeps every quantity an int64 so a DuckDB
oracle unrolling the same iterations reproduces the ranks BIT-EXACTLY
— no float summation-order ulps (the ln-quantization discipline of
functions/lm.py, applied to rank mass).

Arithmetic: ranks live on a ``RANK_SCALE`` integer lattice
(10^12 micro-rank units). With damping d = num/den:

- ``r_0(v)   = RANK_SCALE // N``
- ``contrib(u→v) = (num · r_i(u)) // (den · outdeg(u))``
- ``r_{i+1}(v) = ((den−num)·RANK_SCALE) // (den·N)
  + (num · danglingMass_i) // (den·N) + Σ_{u→v} contrib(u→v)``

Integer division truncates identically in Spark (``div``) and DuckDB
(``//``) for the non-negative operands used here. Truncation leaks
≤1 unit per edge per iteration — deterministic, identical in both
engines, and irrelevant at a 10^12 scale.

Scale shape (100 TB framing): the rank vector is node-count-sized,
never collected (only N itself — one long — reaches the driver); each
iteration is rank⋈edge equi-join + groupBy(dst) with map-side partial
aggregation, and the dangling mass is a one-row broadcast. When the
graph has no dangling nodes the recurrence reads the rank vector once
per iteration, so lineage stays LINEAR and the whole run is ONE
submitted plan of chained shuffles; with dangling nodes each
iteration reads it twice (contrib + dangling mass), so lineage is
truncated per iteration with ``localCheckpoint`` (the standard
iterative-DataFrame pattern — without it the logical plan grows as
references^iterations). On a cluster, pre-partitioning edges by
``src`` and reusing that partitioning for the rank join keeps each
iteration to a single rank-vector shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import bounded_call

#: integer rank lattice: 1.0 of PageRank mass = 10^12 units
RANK_SCALE = 10**12

#: damping factor 0.85 as an exact rational
DAMP_NUM = 85
DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact-integer PageRank over a directed edge list.

    ``edges`` must carry long-typed ``src``/``dst`` node ids (parallel
    edges count as parallel — pre-``distinct`` if unwanted). Dangling
    nodes' mass is redistributed uniformly each iteration (the
    standard stochastic-matrix completion). Returns ``(node, rank_q)``
    with ``rank_q`` the final int64 lattice rank.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # N is the only value that ever reaches the driver (one long); the
    # closed-form integer bases below need it as a Python int
    n = nodes.count()
    outdeg = (
        e.groupBy("src").agg(F.count("*").cast("long").alias("d")).persist()
    )
    base = ((DAMP_DEN - DAMP_NUM) * RANK_SCALE) // (DAMP_DEN * n)
    ranks = nodes.select(
        "node", F.lit(RANK_SCALE // n).cast("long").alias("r")
    )
    # With no dangling nodes (one cheap anti-join probe, a bounded
    # boolean to the driver) every iteration reads the rank vector
    # exactly ONCE, so lineage stays LINEAR: submit one plan with
    # `iterations` chained shuffles and skip the per-iteration
    # materialization entirely — at small scale this removes
    # `iterations` job round-trips; at cluster scale it lets AQE plan
    # the whole chain.
    no_dangling = (
        nodes.join(
            e.select(F.col("src").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .limit(1)
        .count()
        == 0
    )
    if no_dangling:
        # With r_i(v) ≡ base + s_i(v), iterate on the received-mass
        # sums s alone: one (broadcastable, received-node-sized) join
        # plus one groupBy per iteration, against a once-persisted
        # (src, dst, outdeg) edge table. Iteration 1 is join-free —
        # the uniform r_0 is a literal. The edge table is
        # pre-partitioned by src (r8, the docstring's promised
        # refinement): every per-iteration rank⋈edge join then reuses
        # the cached partitioning, so when the rank vector outgrows
        # AQE's broadcast threshold each round shuffles ONLY the rank
        # vector + the contribution aggregate — the edge table (the
        # 100 TB side) never moves again after this one repartition.
        ew = (
            e.select(F.col("src").alias("node"), "dst")
            .join(outdeg.select(F.col("src").alias("node"), "d"), "node")
            .repartition("node")
            .persist()
        )
        s = (
            ew.select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM} * CAST({RANK_SCALE // n} AS BIGINT))"
                    f" div ({DAMP_DEN} * d)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        for _ in range(iterations - 1):
            # the received-mass vector is node-sized; AQE broadcasts
            # it into the persisted edge table when it fits (at
            # cluster scale co-partition ew by node once so each
            # round shuffles only the rank vector + the contrib agg)
            s = (
                ew.join(s, "node", "left")
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"({DAMP_NUM} * (CAST({base} AS BIGINT)"
                        f" + coalesce(s, 0))) div ({DAMP_DEN} * d)"
                    ).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").cast("long").alias("s"))
            )
        return nodes.join(s, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank_q"),
        )
    for _ in range(iterations):  # dangling-node general path
        joined = ranks.join(
            outdeg, ranks["node"] == outdeg["src"], "left"
        ).select(ranks["node"].alias("node"), "r", "d")
        contrib = (
            joined.filter(F.col("d").isNotNull())
            .alias("j")
            .join(e.alias("e"), F.col("j.node") == F.col("e.src"))
            .select(
                F.col("e.dst").alias("node"),
                F.expr(f"({DAMP_NUM} * r) div ({DAMP_DEN} * d)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        dang = joined.filter(F.col("d").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({DAMP_NUM} * dm) div ({DAMP_DEN} * {n})")
                    + F.coalesce(F.col("s"), F.lit(0))
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.col("r").alias("rank_q"))


# ----------------------------------------------------------------------
# Incremental PageRank maintenance (delta propagation)
# ----------------------------------------------------------------------
#
# A crawl refresh changes a sliver of the edge set; recomputing all
# `iterations` power rounds over the full graph for every batch is the
# anti-pattern IVM already killed for aggregates. Because every
# quantity here is an exact integer, the update can propagate rank
# DELTAS instead: iteration i's received-mass vector s_i changes only
# at nodes fed by (a) srcs whose edge set / outdegree changed or
# (b) srcs whose s_{i-1} changed — so each round joins the edge table
# against the AFFECTED src set only, and the work is proportional to
# the churned neighborhood, not the corpus. The truncating-division
# contribution is NOT linear in s, so the delta is computed as
# new-contribution minus old-contribution per affected src — exact,
# never approximated; the maintained ranks are BIT-EQUAL to a fresh
# run on the final edge set (pytest + oracle pin it).
#
# Contract (guards raise otherwise): the node set must not change
# (a node appearing/disappearing moves r_0 = SCALE//N for EVERY node —
# a dense delta; callers fall back to `pagerank`), no node may become
# dangling, and deletes must not exceed existing multiplicity. State
# between batches = the per-iteration mass vectors (node, it, s) —
# exactly the shape the persisted agg-store maintains with signed
# deltas (operators/incremental.py::ingest_agg_deltas), which is how
# the streaming twin stores it.


def edge_table(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node=src, dst, d) — the per-edge table with outdegree beside
    it, the join side every iteration probes."""
    e = edges.select(
        F.col(src).cast("long").alias("node"),
        F.col(dst).cast("long").alias("dst"),
    )
    d = e.groupBy("node").agg(F.count("*").cast("long").alias("d"))
    return e.join(d, "node")


def pagerank_state(
    edges: DataFrame, iterations: int = 8
) -> tuple[DataFrame, int]:
    """Run the no-dangling fast path and MATERIALIZE every
    per-iteration received-mass vector: returns ``((node, it, s) for
    it=1..iterations, n)``. This is the bootstrap for delta
    maintenance; the price buys batch-over-batch updates that never
    re-run the full power method. Raises on dangling nodes (module
    contract).

    Job shape (r9, VERDICT r8 task #7): per-round checkpoints are
    LAZY — ``localCheckpoint(eager=False)`` compiles each round to a
    LogicalRDD leaf immediately (flat plans, no lineage blow-up) but
    defers execution, and because the rounds then share RDD
    *identity* (not just plan structure, which Exchange reuse failed
    to dedupe in the r8 A/B), the single eager checkpoint of the
    final state union materializes every round exactly once in ONE
    job. Gauge-scale cost is driver job round-trips (r8 lesson), so
    collapsing iterations+2 job barriers to 2 (probe + state) cut the
    sf0.1 bootstrap 3.6 s → 2.0 s with bit-equal output.

    SCALE GATE (measured): above ~8M state rows the one-job collapse
    exhausts the unified pool — checkpoint blocks pin as they
    materialize mid-job, starving execution memory
    (SparkOutOfMemoryError at sf10-dense, ~21M state rows) — so big
    graphs switch back to per-round EAGER checkpoints (one job per
    round spreads the pinning across job boundaries; the r8 shape,
    proven at sf10). ``n`` is driver-known before the choice, so the
    gate is free."""
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # N and the dangling probe fold into ONE driver job (job count is
    # the gauge-scale cost of the state path — see pagerank_delta doc)
    probe = (
        nodes.join(
            e.select(F.col("src").alias("node")).distinct().withColumn(
                "__has_out", F.lit(1)
            ),
            "node",
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("__has_out").isNull(), 1).otherwise(0)
            ).cast("long").alias("dangling"),
        )
        .collect()[0]
    )
    if int(probe["dangling"]):
        raise ValueError(
            "pagerank_state: graph has dangling nodes — delta "
            "maintenance propagates received-mass deltas only and "
            "cannot track the global dangling-mass term; use pagerank()"
        )
    n = int(probe["n"])
    # one-job collapse only while the pinned state fits comfortably —
    # see the SCALE GATE note in the docstring
    lazy = n * iterations <= 8_000_000
    if lazy:
        # the partitioned edge table is a lazy-checkpoint leaf shared
        # BY RDD IDENTITY across every round — computed once inside
        # the one state job, GC-cleaned with the returned frame (no
        # persist/unpersist bracket to leak)
        ew = edge_table(e).repartition("node").localCheckpoint(eager=False)
    else:
        # big regime: checkpoint blocks are PINNED (unevictable) —
        # a 117M-edge table as a checkpoint leaf starved round
        # aggregations into AGGREGATE_OUT_OF_MEMORY at sf10-dense.
        # A plain persist is EVICTABLE (Spark trades cache for
        # execution memory and recomputes from lineage), the r8 shape
        # proven at this scale; released at exit. The count
        # materializes the cache in its own simple job so round 1's
        # agg does not pay cache-write + shuffle + agg heap pressure
        # in one stage (r8 did exactly this).
        ew = edge_table(e).repartition("node").persist()
        ew.count()
    base = ((DAMP_DEN - DAMP_NUM) * RANK_SCALE) // (DAMP_DEN * n)
    s = (
        ew.select(
            F.col("dst").alias("node"),
            F.expr(
                f"({DAMP_NUM} * CAST({RANK_SCALE // n} AS BIGINT))"
                f" div ({DAMP_DEN} * d)"
            ).alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("s"))
        .localCheckpoint(eager=not lazy)
    )
    parts = [s.select("node", F.lit(1).alias("it"), "s")]
    for i in range(2, iterations + 1):
        s = (
            ew.join(s, "node", "left")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM} * (CAST({base} AS BIGINT)"
                    f" + coalesce(s, 0))) div ({DAMP_DEN} * d)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
            .localCheckpoint(eager=not lazy)
        )
        parts.append(s.select("node", F.lit(i).alias("it"), "s"))
    from functools import reduce

    state = reduce(lambda a, b: a.unionByName(b), parts).withColumn(
        "it", F.col("it").cast("int")
    )
    if lazy:
        # ONE job materializes all rounds (RDD-identity sharing)
        state = state.localCheckpoint(eager=True)
    else:
        # rounds are already eagerly materialized — release the cache
        ew.unpersist(blocking=False)
    return state, n


class FrontierExplosionError(ValueError):
    """The affected set grew past ``frontier_cap`` after one
    propagation round — the delta path's frontier broadcasts would
    approach node-sized. :func:`pagerank_maintain` catches this and
    reroutes to the full recompute."""


def pagerank_delta(
    old_edges: DataFrame,
    state: DataFrame,
    n: int,
    delta_edges: DataFrame,
    iterations: int = 8,
    *,
    frontier_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold one signed edge batch (``src, dst, __sign`` with +1 insert
    / -1 delete) into a maintained PageRank: returns ``(ranks, new
    state)`` where ``ranks`` is (node, rank_q) bit-equal to
    ``pagerank(old_edges ⊎ delta)`` and ``new state`` is the signed
    DELTA rows ``(node, it, s)`` to fold into the state store (the
    ivm convention: new s_i = old s_i + Δs_i, so the store ingests
    the deltas as-is).

    Cost shape (r9 redesign, VERDICT r8 task #1 — "work ∝ churned
    neighborhood", now true in the PLAN, not just the prose): the
    old implementation pre-built BOTH full edge tables (global
    multiplicity fold, two degree joins, distinct probes — ~8 full
    shuffle passes before the first round), which made the delta path
    cost ~1.5-2.4x a full rerun regardless of churn locality. Now
    NOTHING corpus-sized is ever shuffled:

    - per round, the edge set is PROBED at the affected srcs (one
      broadcast-hash scan of the cached edge list — no shuffle, no
      sort) and degrees/multiplicity folds are computed on the
      frontier-sized probe result, never globally;
    - the node-sized state vector is semi-reduced by the frontier
      before it goes near an edge row, and the reduced probe is
      broadcast into both contribution legs (one BroadcastExchange,
      reused);
    - the guards run on the round-1 probe (deletes can only exist at
      changed srcs) plus one scan-shaped membership check against the
      old node set.

    The only O(N∪E)-shuffle stages left are the one-time ``old_nodes``
    distinct (needed to ASSEMBLE the full output rank vector — the
    rerun pays the same in its output stage) and the caller's final
    consumption. Each round therefore shuffles O(|affected|) rows; the
    affected set for round i+1 = changed srcs ∪ support(Δs_i). On a
    well-connected graph it can grow to all nodes (the honest worst
    case — influence really does spread, and the frontier broadcasts
    approach node-sized); that dense regime is exactly what
    :func:`pagerank_maintain`'s pre-flight fraction routes to the
    full recompute instead. On the bounded-degree localized-churn
    class the operator exists for (web/citation graphs), the frontier
    stays a sliver and the delta path beats the rerun outright
    (PLANS.md r9, "the delta-path win demonstrated"). On a cluster the
    cached edge-list scans become file-pruned reads of the
    src-clustered edge store.

    Round shape (r14, VERDICT r13 #1 — the delta path's wall was
    DRIVER time, not data): one broadcast per round — the frontier,
    carrying its state probe (``_sp``) and previous delta (``_dsp``)
    — probes the cached edge list; degrees fold as WINDOW aggregates
    over the frontier-sized probe/fold results (guide §2.4: operations
    keyed the same way share one exchange) instead of the former
    per-round d_old/d_new/sp/dsp broadcast-join quartet; the ONLY
    per-round lazy checkpoint is Δs (the lineage cut the next round
    builds on — probe/fold/frontier re-derive from it for pennies,
    while each dropped checkpoint saves a full Catalyst-to-RDD
    compile); and the guard job overlaps round construction on an
    InheritableThread (guide §2.6), its verdict checked before
    anything materializes. Integer sums are order-independent, so the
    windowed folds are bit-equal to the joined ones (oracle + pytest
    re-pinned).
    """
    e_old = old_edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).persist()
    # pure projections/distincts over the (small) batch frame: kept
    # LAZY — each former localCheckpoint(eager=False) here paid a
    # 0.5-0.9 s plan-compile for a subtree that costs ~ms to re-derive
    dl = delta_edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("__sign").cast("long").alias("__sign"),
    ).localCheckpoint(eager=False)
    old_nodes = (
        e_old.select(F.col("src").alias("node"))
        .union(e_old.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    changed = dl.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=False)
    # the caller's state is probed once per round (semi-reduced by the
    # frontier) plus once for s_last; in the store-backed twin it is a
    # full merge-on-read fold, so cache it for the duration and
    # release with the other inputs (r8 review)
    state = state.persist()

    wsrc = Window.partitionBy("src")

    def _probe(aff_b):
        """Old edges at the affected srcs — broadcast-hash scan of the
        cached edge list, frontier-sized output. Not checkpointed: its
        two consumers (old leg + fold) re-run the one cached scan."""
        return e_old.join(aff_b.withColumnRenamed("node", "src"), "src")

    changed_b = F.broadcast(changed)
    p1 = _probe(changed_b)
    # frontier-fold: new edge multiset at the affected srcs — valid
    # because every delete/insert src is in `changed` ⊆ every round's
    # frontier. repartition("src") up front so the (src, dst) group
    # AND the per-src window both reuse the one exchange (§2.4).
    fold1 = (
        p1.withColumn("__sign", F.lit(1).cast("long"))
        .unionByName(dl)
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.sum("__sign").cast("long").alias("m"))
    )

    # All contract guards fold into ONE driver job (a union of one-row
    # counts), every leg frontier-sized or a scan of a cached input —
    # driver round-trips, not data, dominate the delta path's cost at
    # gauge scale, so guards must not each pay their own job.
    def _flag(name: str, df: DataFrame, cap: bool = True) -> DataFrame:
        probe = df.limit(1) if cap else df
        return probe.agg(
            F.lit(name).alias("flag"),
            F.count("*").cast("long").alias("c"),
        )

    dl_nodes = (
        dl.filter(F.col("__sign") > 0)
        .select(F.col("src").alias("node"))
        .union(
            dl.filter(F.col("__sign") > 0).select(F.col("dst").alias("node"))
        )
        .distinct()
    )
    old_deg1 = p1.groupBy("src").agg(F.count("*").cast("long").alias("d0"))
    flags_df = (
        # membership probe: scan old_nodes' cache against the tiny
        # broadcast batch-node set; fewer matches than batch nodes
        # means the batch mentions a node the graph has never seen
        _flag("dl_nodes", dl_nodes, cap=False)
        .unionByName(
            _flag(
                "dl_nodes_known",
                old_nodes.join(F.broadcast(dl_nodes), "node"),
                cap=False,
            )
        )
        .unionByName(_flag("over_delete", fold1.filter(F.col("m") < 0)))
        .unionByName(
            _flag(
                "emptied",
                fold1.groupBy("src")
                .agg(F.sum("m").cast("long").alias("dn"))
                .join(F.broadcast(old_deg1), "src")
                .filter((F.col("d0") > 0) & (F.col("dn") == 0)),
            )
        )
        .unionByName(
            _flag(
                "bad_state_it",
                state.select("it").distinct().filter(
                    ~F.col("it").between(1, iterations)
                ),
            )
        )
        .unionByName(
            _flag(
                "state_its",
                state.select("it").distinct().filter(
                    F.col("it").between(1, iterations)
                ),
                cap=False,
            )
        )
    )
    # The guard job runs CONCURRENTLY with round construction (§2.6:
    # actions are only sequential because the driver calls them
    # sequentially): construction below is driver-side plan building
    # over read-only inputs, so the executors are free to verify the
    # contract meanwhile. The verdict is enforced by _check_flags()
    # before anything materializes or returns. InheritableThread keeps
    # the caller's job group/description on the guard job's UI rows.
    # The guard is collected through bounded_call on purpose: its legs
    # are frontier-sized or scans of cached inputs (above), so
    # adaptive planning only adds stage-barrier jobs (measured at
    # sf0.01: ns_graph_pagerank_incr runs 22–24 jobs with the guard
    # planned non-adaptively, 40 with it planned adaptively).
    from pyspark import InheritableThread

    _guard: dict = {}

    def _run_guards() -> None:
        try:
            _guard["flags"] = {
                r["flag"]: int(r["c"])
                for r in bounded_call(DataFrame.collect, flags_df)
            }
        except BaseException as exc:  # re-raised on the caller thread
            _guard["err"] = exc

    _guard_t = InheritableThread(target=_run_guards)
    _guard_t.start()

    def _check_flags() -> None:
        _guard_t.join()
        if "err" in _guard:
            raise _guard["err"]
        flags = _guard["flags"]
        if flags.get("bad_state_it") or flags.get("state_its") != iterations:
            raise ValueError(
                "pagerank_delta: state does not cover iterations "
                f"1..{iterations} exactly — bootstrap with "
                f"pagerank_state(..., {iterations})"
            )
        if flags.get("dl_nodes_known") != flags.get("dl_nodes"):
            raise ValueError(
                "pagerank_delta: batch introduces new nodes — N "
                "changes, so every node's teleport term moves (dense "
                "delta); run pagerank()/pagerank_state() on the full "
                "edge set instead"
            )
        if flags.get("over_delete"):
            raise ValueError(
                "pagerank_delta: batch deletes an edge more times than "
                "it exists — contract violation (redelivery bug "
                "upstream?); refusing to clamp silently"
            )
        if flags.get("emptied"):
            raise ValueError(
                "pagerank_delta: batch empties a node's out-edge list "
                "(node becomes dangling) — contract violation; run the "
                "full pagerank() instead"
            )

    base = ((DAMP_DEN - DAMP_NUM) * RANK_SCALE) // (DAMP_DEN * n)
    r0 = RANK_SCALE // n
    try:
        # the rounds build contract-bounded frames only — construct
        # them non-adaptively (session.bounded_call) so the per-round
        # lazy checkpoints stop executing stage chains at plan-compile
        # time; every deferred stage pipelines inside the one eager
        # delta_state materialization below
        delta_state, ds = bounded_call(
            _pr_delta_rounds,
            iterations, p1, dl, e_old, state, changed, base, r0, wsrc,
            frontier_cap, _check_flags,
            e_old_unpersist=lambda: [
                fr.unpersist(blocking=False)
                for fr in (e_old, old_nodes, state)
            ],
        )
    except FrontierExplosionError:
        raise
    except Exception:
        # a contract-violating batch can now surface as an execution
        # error DURING overlapped round construction (e.g. ANSI
        # divide-by-zero when a node was emptied) — the guard verdict
        # must win, exactly as it did when guards ran first
        _check_flags()
        raise
    # guard verdict lands BEFORE anything materializes for the caller
    _check_flags()
    delta_state = delta_state.localCheckpoint(eager=True)
    s_last = state.filter(F.col("it") == iterations).select("node", "s")
    ranks = (
        old_nodes.join(s_last, "node", "left")
        .join(ds.withColumnRenamed("ds", "_dsl"), "node", "left")
        .select(
            "node",
            (
                F.lit(base)
                + F.coalesce("s", F.lit(0))
                + F.coalesce("_dsl", F.lit(0))
            )
            .cast("long")
            .alias("rank_q"),
        )
    )
    # the delta_state eager checkpoint above materialized every round
    # (and with them the per-round lazy-checkpoint RDDs, which the GC
    # cleans when the frames drop), so the returned frames no longer
    # depend on these caches; the caller's action recomputes only
    # s_last/old_nodes (the kmeans unpersist-before-return precedent)
    # — without this a long-lived ingest session leaks caches per
    # batch (r8 review)
    for fr in (e_old, old_nodes, state):
        fr.unpersist(blocking=False)
    return ranks, delta_state


def _pr_delta_rounds(
    iterations, p1, dl, e_old, state, changed, base, r0, wsrc,
    frontier_cap, _check_flags, e_old_unpersist,
):
    """The per-round delta propagation of :func:`pagerank_delta` —
    split out so the caller can build ALL rounds through
    ``session.bounded_call`` inside the guard-first error handling.
    Returns ``(delta_state, ds)``: the signed per-iteration state rows
    and the last round's Δs."""
    aff = changed
    ds = None  # Δs_{i-1}
    delta_state = None
    # The whole round is ONE union + ONE per-src window pass + ONE
    # node aggregate (r14): the per-edge contribution
    # (85·(base+s)) div (100·d) is a PER-SRC CONSTANT, so the former
    # fold→explode→degree-join pipeline reduces to row weights — an
    # old edge row contributes −c_old (old leg) and +1·c_new (it
    # counts once in the new multiset), a signed batch row ±1·c_new;
    # pairs that fold to m=0 cancel arithmetically. The per-src
    # scalars (_sp from the frontier-reduced state probe, _dsp from
    # the previous Δs leaf) ride the SAME window partition as extra
    # weight-0 rows and spread via max() — zero joins touch them.
    # Per round that leaves exactly one broadcast (the frontier into
    # the cached-edge probe; the state semi-reduction reuses the same
    # broadcast exchange) and two frontier-sized exchanges.
    def _aug(p_old, extras):
        parts = [
            p_old.select(
                "src",
                "dst",
                F.lit(1).cast("long").alias("w"),
                F.lit(1).cast("long").alias("old"),
            ),
            dl.select(
                "src",
                "dst",
                F.col("__sign").alias("w"),
                F.lit(0).cast("long").alias("old"),
            ),
        ] + extras
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p, allowMissingColumns=True)
        return rows.repartition("src").select(
            "dst",
            "w",
            "old",
            F.sum("old").over(wsrc).cast("long").alias("d_old"),
            F.sum("w").over(wsrc).cast("long").alias("d_new"),
            F.max("_sp").over(wsrc).alias("_spw")
            if extras
            else F.lit(None).cast("long").alias("_spw"),
            F.max("_dsp").over(wsrc).alias("_dspw")
            if extras
            else F.lit(None).cast("long").alias("_dspw"),
        )

    for i in range(1, iterations + 1):
        if i == 1:
            # s_0 is the uniform r0 - base for every node: a literal,
            # so round 1 carries no state rows
            rows = _aug(p1, [])
            num_old = num_new = f"({DAMP_NUM} * CAST({r0} AS BIGINT))"
        else:
            aff_b = F.broadcast(aff)
            p_old = e_old.join(
                aff_b.withColumnRenamed("node", "src"), "src"
            )
            # state semi-reduced by the SAME broadcast frontier (one
            # BHJ probe of the cached state); Δs_{i-1} support ⊆ aff
            # by construction, so its rows union in unfiltered
            extras = [
                state.filter(F.col("it") == i - 1)
                .join(aff_b, "node")
                .select(
                    F.col("node").alias("src"),
                    F.lit(None).cast("long").alias("dst"),
                    F.lit(0).cast("long").alias("w"),
                    F.lit(0).cast("long").alias("old"),
                    F.col("s").alias("_sp"),
                ),
                ds.select(
                    F.col("node").alias("src"),
                    F.lit(None).cast("long").alias("dst"),
                    F.lit(0).cast("long").alias("w"),
                    F.lit(0).cast("long").alias("old"),
                    F.lit(None).cast("long").alias("_sp"),
                    F.col("ds").alias("_dsp"),
                ),
            ]
            rows = _aug(p_old, extras)
            num_old = (
                f"({DAMP_NUM} * (CAST({base} AS BIGINT)"
                " + coalesce(_spw, 0)))"
            )
            num_new = (
                f"({DAMP_NUM} * (CAST({base} AS BIGINT)"
                " + coalesce(_spw, 0) + coalesce(_dspw, 0)))"
            )
        contrib = rows.select(
            F.col("dst").alias("node"),
            F.expr(
                f"CASE WHEN old = 1 THEN -({num_old}"
                f" div ({DAMP_DEN} * d_old)) ELSE CAST(0 AS BIGINT) END"
                f" + w * ({num_new} div ({DAMP_DEN} * d_new))"
            ).alias("c"),
        ).filter(F.col("node").isNotNull())
        # LAZY checkpoint (r9): each round compiles to a LogicalRDD
        # leaf now, executes later — shared by RDD identity, so the
        # one eager checkpoint of the delta_state union below
        # materializes all rounds in ONE job instead of one job
        # barrier per round (driver round-trips dominate at gauge
        # scale, r8 lesson). Δs is the round's ONLY checkpoint: the
        # next round's frontier/probe/state rows re-derive from it.
        ds = (
            contrib.groupBy("node")
            .agg(F.sum("c").cast("long").alias("ds"))
            .filter(F.col("ds") != 0)
            .localCheckpoint(eager=False)
        )
        drow = ds.select("node", F.lit(i).cast("int").alias("it"), F.col("ds").alias("s"))
        delta_state = (
            drow if delta_state is None else delta_state.unionByName(drow)
        )
        if i < iterations:
            aff = changed.unionByName(ds.select("node")).distinct()
        if frontier_cap is not None:
            # frontier guard (r9 review + sf10 measurement): the
            # frontier broadcasts and whole-probe checkpoints are only
            # safe while the affected set stays a sliver, and the
            # explosion round is graph-dependent (a hub fans out at
            # expansion two; the dense order graph saturates at three),
            # so when a cap is set EVERY round pays one count barrier —
            # the insurance is cheap exactly when the localized-churn
            # claim holds (tiny frames), and when it doesn't we want
            # out before the block store does (measured: sf10-dense
            # exhausts it). Callers wanting raw uncapped machinery
            # (the worst-case gauge) pass frontier_cap=None.
            f1 = (aff if i < iterations else ds).count()
            if f1 > frontier_cap:
                # contract violations outrank the explosion verdict
                # (the pre-overlap ordering): a bad batch must raise
                # ValueError, not reroute to the recompute
                _check_flags()
                e_old_unpersist()
                raise FrontierExplosionError(
                    f"pagerank_delta: affected set after one round is "
                    f"{f1} nodes (> frontier_cap={frontier_cap}) — "
                    "churn is not localized; use the full recompute"
                )
    return delta_state, ds


def pagerank_maintain(
    old_edges: DataFrame,
    state: DataFrame,
    n: int,
    delta_edges: DataFrame,
    iterations: int = 8,
    *,
    fallback_fraction: float = 0.1,
    n_srcs: int | None = None,
    frontier_cap: int | None = 4_000_000,
    delta_min_srcs: int = 2_000_000,
) -> tuple[DataFrame, DataFrame, str]:
    """Route one signed edge batch between :func:`pagerank_delta` and
    a full re-bootstrap on a CHEAP pre-flight estimate (VERDICT r8
    task #1): the changed-src fraction ``|distinct batch srcs| /
    |distinct graph srcs|`` — one small aggregate job. Localized
    churn (the web/citation regime where the delta path's per-round
    work ∝ frontier beats a rerun outright) goes to the delta path;
    dense churn — where the frontier saturates and the delta path
    degrades toward rerun cost with extra barrier overhead — goes
    straight to :func:`pagerank_state` on the folded new edge set.

    Returns ``(ranks, delta_state_rows, method)`` with ``method`` in
    ``{"delta", "recompute"}``. BOTH paths return the state rows as
    SIGNED DELTAS against the caller's state (the recompute path
    diffs the fresh bootstrap against the old state), so store-backed
    callers (``streaming/pagerank_ingest.py``) ingest the same
    additive contract either way, and both paths are bit-equal to
    ``pagerank(old ⊎ delta)``.

    The threshold is a plan-shape decision, not an exactness one —
    results are identical on both sides of it. 0.1 is conservative:
    on the bounded-degree demo graph the delta path still wins at a
    few percent churn, while the dense bipartite gauge graph crosses
    ~0.4 and clearly prefers the rerun. The pre-flight sees round-0
    churn only (frontier growth is graph-dependent), which is exactly
    why it must stay cheap and conservative rather than simulate
    propagation — AND why it is backstopped: a small changed set
    touching a high-out-degree hub explodes the frontier at the first
    propagation round, so the delta path runs under ``frontier_cap``
    (one post-round-1 count) and a :class:`FrontierExplosionError`
    reroutes to the recompute here (r9 review: without this, the
    frontier broadcasts would fail on Spark's broadcast limit instead
    of degrading). ``n_srcs`` lets a store-backed caller pin the
    (contract-invariant) graph src count so the pre-flight costs one
    tiny batch-side aggregate instead of a corpus scan per batch.

    The routing is SIZE-aware as well as fraction-aware (r9 verdict
    task #4): the measured delta-vs-rerun table (PLANS.md r9, ring
    lattice, 0.1% churn) shows the delta path is BARRIER-bound below
    ~10M edges (~1-2M srcs at bounded degree) — fixed ≈6 s + ~1.7 s/
    round of broadcast-exchange latency ≈ rerun parity — and only
    pulls ahead above that. A graph smaller than ``delta_min_srcs``
    distinct srcs therefore routes to the recompute even under
    localized churn: bit-equal either way, strictly cheaper below
    the crossover. Pass ``delta_min_srcs=0`` to force the
    fraction-only routing (tests, gauges, clusters where per-round
    barriers are cheaper than local[32]'s).
    """
    e_old = old_edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    dl = delta_edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("__sign").cast("long").alias("__sign"),
    )
    # ``n_srcs``: the graph's distinct-src count is INVARIANT under the
    # maintenance contract (new/emptied nodes raise), so a store-backed
    # caller pins it once and the pre-flight degrades to one tiny
    # batch-side aggregate — without it, the probe scans the full old
    # edge set every batch (r9 review: the streaming caller was paying
    # a corpus-sized count_distinct per epoch to route a 2-edge batch)
    if n_srcs is None:
        probe = (
            e_old.select(F.col("src").alias("k"))
            .withColumn("_w", F.lit("g"))
            .unionByName(
                dl.select(F.col("src").alias("k")).withColumn(
                    "_w", F.lit("b")
                )
            )
            .groupBy("_w")
            .agg(F.count_distinct("k").alias("c"))
            .collect()
        )
        counts = {r["_w"]: int(r["c"]) for r in probe}
        graph_srcs = counts.get("g", 1)
        frac = counts.get("b", 0) / max(graph_srcs, 1)
    else:
        graph_srcs = int(n_srcs)
        b = dl.select("src").distinct().count()
        frac = b / max(graph_srcs, 1)
    if frac <= fallback_fraction and graph_srcs >= delta_min_srcs:
        # the effective cap is ALSO fraction-aware: once the frontier
        # covers a sizable share of the graph, every round's probe is
        # edge-table-sized through broadcast machinery — worse than
        # the rerun it was meant to beat (measured: 2.1-2.5× the
        # bootstrap on the dense order graph at sf0.1-sf1, block-store
        # exhaustion at sf10). 15% of n, floored at 10k nodes (below
        # which the broadcasts are trivially safe), capped by the
        # absolute broadcast bound.
        cap = (
            None
            if frontier_cap is None
            else min(frontier_cap, max(int(n * 0.15), 10_000))
        )
        try:
            ranks, dstate = pagerank_delta(
                e_old, state, n, dl, iterations, frontier_cap=cap
            )
            return ranks, dstate, "delta"
        except FrontierExplosionError:
            pass  # hub/dense case: fall through to the recompute path
    # dense churn: fold the multiset once, re-bootstrap, diff states.
    # The delta-path guards still apply — fold-level over-delete check
    # here; new/emptied nodes surface as an N change or a dangling
    # raise inside pagerank_state.
    folded = (
        e_old.select("src", "dst", F.lit(1).cast("long").alias("__sign"))
        .unionByName(dl)
        .groupBy("src", "dst")
        .agg(F.sum("__sign").cast("long").alias("m"))
        .localCheckpoint(eager=False)
    )
    if folded.filter(F.col("m") < 0).limit(1).count():
        raise ValueError(
            "pagerank_maintain: batch deletes an edge more times than "
            "it exists — contract violation (redelivery bug "
            "upstream?); refusing to clamp silently"
        )
    e_new = (
        folded.filter(F.col("m") > 0)
        .select(
            "src",
            "dst",
            F.explode(F.sequence(F.lit(1), F.col("m"))).alias("_i"),
        )
        .drop("_i")
    )
    new_state, n_new = pagerank_state(e_new, iterations)
    if n_new != n:
        raise ValueError(
            f"pagerank_maintain: node count changed {n} -> {n_new} — "
            "the batch adds or empties nodes, so every node's teleport "
            "term moves; re-bootstrap the store from scratch instead"
        )
    old_s = state.select(
        "node", "it", F.col("s").alias("_so")
    )
    dstate = (
        new_state.select("node", "it", F.col("s").alias("_sn"))
        .join(old_s, ["node", "it"], "full")
        .select(
            "node",
            "it",
            (
                F.coalesce("_sn", F.lit(0)) - F.coalesce("_so", F.lit(0))
            ).cast("long").alias("s"),
        )
        .filter(F.col("s") != 0)
    )
    base = ((DAMP_DEN - DAMP_NUM) * RANK_SCALE) // (DAMP_DEN * n)
    nodes = (
        e_new.select(F.col("src").alias("node"))
        .union(e_new.select(F.col("dst").alias("node")))
        .distinct()
    )
    s_last = new_state.filter(F.col("it") == iterations).select("node", "s")
    ranks = nodes.join(s_last, "node", "left").select(
        "node",
        (F.lit(base) + F.coalesce("s", F.lit(0))).cast("long").alias(
            "rank_q"
        ),
    )
    return ranks, dstate, "recompute"
