"""Event-stream analytics (batch form; streaming/ reuses these plans).

North-star surface over the ``events`` table: JSON prop extraction,
tumbling and sliding event-time windows, and gap-based sessionization.
All are built-ins (``get_json_object``, ``F.window``, lag/cumsum window
functions) — at scale the window aggregates are partial-aggregated
map-side, and sessionization shuffles once on user_id.

Window-struct convention: ``F.window`` yields struct(start,end); we
flatten to ``window_start``/``window_end`` so the driver's column-name
comparator lines up with the oracle's ``date_trunc`` arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30


def value_cents() -> Column:
    """``value`` as exact integer cents.

    The source doubles are 2-decimal currency; ``round(value·100)``
    recovers the exact decimal, and integer sums are associative — so
    aggregated money is ORDER-INDEPENDENT and bit-identical on every
    engine. Summing the raw doubles instead is a rounding lottery:
    partial-aggregation order shifts the sum by ulps, and decimal
    averages land exactly ON round-half boundaries (e.g. 1236.27/24 =
    51.51125), so a ulp decides which way ROUND(…,4) falls — observed
    as real sf0.1 oracle mismatches before this change.
    """
    return F.round(F.col("value") * 100, 0).cast("long")


def money(cents_sum: Column, scale: float = 100.0) -> Column:
    """Exact cents sum → display dollars (one deterministic division)."""
    return cents_sum.cast("double") / F.lit(scale)


def with_json_props(events: DataFrame) -> DataFrame:
    """Extract ``props`` JSON fields ({"k": int} in testdata)."""
    return events.withColumn(
        "prop_k", F.get_json_object(F.col("props"), "$.k").cast("bigint")
    )


def json_kv_rollup(events: DataFrame) -> DataFrame:
    """Per-event-type rollup of the JSON ``k`` prop."""
    return (
        with_json_props(events)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # denominator = non-NULL k count, matching F.avg semantics
            # (malformed-JSON rows don't dilute the average — ADVICE r3)
            F.count("prop_k").alias("__n_k"),
            F.sum("prop_k").cast("bigint").alias("sum_k"),
            F.round(money(F.sum(value_cents())), 2).alias("sum_value"),
        )
        # integer half-up at 4 decimals (tie-exact — see tumbling_rollup).
        # Sign-aware: the floor identity (2S·10^4+n) div (2n) holds for
        # S ≥ 0 only, and Spark `div` truncates while DuckDB `//` floors
        # (they differ on negatives) — so divide on |S| and reapply the
        # sign; both engines agree on non-negative operands (ADVICE r3).
        .withColumn(
            "avg_k",
            F.when(
                F.col("__n_k") > 0,
                F.expr(
                    "CASE WHEN sum_k < 0 THEN"
                    " -((2 * (-sum_k) * 10000 + __n_k) div (2 * __n_k))"
                    " ELSE (2 * sum_k * 10000 + __n_k) div (2 * __n_k) END"
                ),
            ).cast("double")
            / F.lit(10000.0),
        )
        .select("event_type", "n_events", "sum_k", "avg_k", "sum_value")
    )


def tumbling_rollup(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_cents()).alias("__cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            F.round(money(F.col("__cents")), 2).alias("sum_value"),
            # round-half-up(S/(100n), 4) in EXACT integer arithmetic:
            # the decimal average of cents frequently lands exactly on a
            # 4-decimal half boundary (e.g. 1236.27/24 = 51.51125), and
            # engines disagree on rounding that double (Spark rounds the
            # exact binary expansion, DuckDB scales in floats). Integer
            # div is tie-exact on both; values are non-negative money.
            (
                F.expr(
                    "(2 * __cents * 100 + n_events) div (2 * n_events)"
                ).cast("double")
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
    )


_INTERVAL_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(spec: str) -> int | None:
    """Seconds for a simple "N unit" interval; None for anything this
    parser doesn't cover (compound specs, weeks/months, ...) — the
    caller falls back to the built-in plan, which accepts everything
    ``F.window`` does."""
    parts = spec.strip().split()
    if len(parts) != 2:
        return None
    n, unit = parts
    # strictly positive only: a negative/zero width must fall through to
    # the built-in F.window plan and fail loudly there, not produce a
    # descending F.sequence that silently yields empty windows
    if not n.isdigit() or int(n) <= 0 or unit.lower() not in _INTERVAL_UNITS:
        return None
    return int(n) * _INTERVAL_UNITS[unit.lower()]


def sliding_rollup(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows (each event lands in ``r = width/slide`` windows).

    Composed from tumbling partials instead of ``F.window(ts, width,
    slide)``: the built-in plans an **Expand** that duplicates every
    input row r× BEFORE partial aggregation — r× the scan-side CPU at
    any scale (the surface's one >2×-vs-baseline query in r5, PLANS.md).
    Here events aggregate ONCE into ``slide``-width tumbling buckets
    (map-side partials, shuffle carries bucket partials), then each
    bucket — already thousands-of-× smaller than the event stream —
    fans out to the r windows covering it and a second (tiny) aggregate
    merges buckets per window. Identical semantics: Spark's sliding
    grid starts windows at every epoch-aligned slide multiple, so an
    event's r windows start at ``bucket_start − k·slide`` for k <
    r — only non-empty buckets exist, hence only non-empty windows
    emit, exactly like the built-in. Requires ``slide`` to divide
    ``width`` (the production case); otherwise falls back to the
    Expand plan, whose grid a non-dividing slide genuinely needs.
    """
    wsec, ssec = _interval_seconds(width), _interval_seconds(slide)
    if wsec is None or ssec is None or ssec <= 0 or wsec % ssec != 0:
        return (
            events.groupBy(F.window("ts", width, slide).alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(money(F.sum(value_cents())), 2).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n_events",
                "sum_value",
            )
        )
    r = wsec // ssec
    buckets = events.groupBy(F.window("ts", slide).alias("b")).agg(
        F.count("*").alias("__n"),
        F.sum(value_cents()).alias("__cents"),
    )
    # bucket starts are slide-aligned integral seconds: long cast exact
    return (
        buckets.select(
            F.col("b.start").cast("long").alias("__bs"),
            "__n",
            "__cents",
            F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("__k"),
        )
        .select(
            (F.col("__bs") - F.col("__k") * ssec).alias("__ws"),
            "__n",
            "__cents",
        )
        .groupBy("__ws")
        .agg(
            F.sum("__n").alias("n_events"),
            F.round(money(F.sum("__cents")), 2).alias("sum_value"),
        )
        .select(
            F.timestamp_seconds(F.col("__ws")).alias("window_start"),
            F.timestamp_seconds(F.col("__ws") + wsec).alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    from the previous event exceeds ``gap_minutes``.

    Classic lag + running-sum-of-boundaries; one shuffle on user_id.
    Ordering ties broken by event_id for determinism.
    """
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_user = Window.partitionBy("user_id").orderBy(*order)
    # micros, not unix_timestamp: ts carries sub-second precision and a
    # second-truncating gap compare would disagree with the oracle.
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_user))
    is_new = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    with_sessions = events.withColumn(
        "session_seq",
        F.sum(is_new).over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(money(F.sum(value_cents())), 2).alias("sum_value"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("duration_us"),
        )
    )


#: Funnel step order for :func:`funnel`; a user reaches step k only if
#: every earlier step happened STRICTLY before their first step-k event.
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(events: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS) -> DataFrame:
    """Ordered-funnel analysis: per user, the deepest step reached with
    strict timestamp ordering (first view < first click < first
    purchase), then one row per step with reached-user counts and
    conversion from the previous step.

    Shape: ONE conditional aggregation per user (min ts per step —
    partial map-side, shuffle carries user_id + |steps| timestamps),
    then a |steps|-row explode + count. No joins, no window, no
    per-step scans — at 100 TB this is a single pass however deep the
    funnel is.
    """
    firsts = events.filter(F.col("event_type").isin(*steps)).groupBy(
        "user_id"
    ).agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(
                f"__t{i}"
            )
            for i, s in enumerate(steps)
        ]
    )
    # depth = number of leading steps with strictly increasing firsts
    depth = F.lit(0)
    cond = F.lit(True)
    for i in range(len(steps)):
        this_ok = F.col(f"__t{i}").isNotNull()
        if i > 0:
            this_ok = this_ok & (F.col(f"__t{i}") > F.col(f"__t{i - 1}"))
        cond = cond & this_ok
        depth = depth + cond.cast("int")
    staged = firsts.select("user_id", depth.alias("__depth"))
    per_step = staged.select(
        F.explode(
            F.array(*[F.lit(i + 1) for i in range(len(steps))])
        ).alias("step_idx"),
        "__depth",
    ).groupBy("step_idx").agg(
        F.sum((F.col("__depth") >= F.col("step_idx")).cast("bigint")).alias(
            "users_reached"
        )
    )
    step_names = F.array(*[F.lit(s) for s in steps])
    # the lag is over one row per funnel step (len(steps) rows total);
    # a self-join on step_idx-1 expresses it without the global
    # single-partition window (r8 hygiene: WindowExec's "No Partition
    # Defined" warning should only ever flag an unintended global
    # window, so the intended bounded ones are spelled differently)
    prev = per_step.select(
        (F.col("step_idx") + 1).alias("step_idx"),
        F.col("users_reached").alias("__prev"),
    )
    return (
        per_step.join(F.broadcast(prev), "step_idx", "left")
        .select(
            F.col("step_idx").cast("int").alias("step_idx"),
            F.element_at(step_names, F.col("step_idx")).alias("step"),
            "users_reached",
            "__prev",
        )
        .select(
            "step_idx",
            "step",
            "users_reached",
            F.round(
                F.col("users_reached")
                / F.greatest(
                    F.coalesce(F.col("__prev"), F.col("users_reached")),
                    F.lit(1),
                ).cast("double"),
                6,
            ).alias("conversion_from_prev"),
        )
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    tracked across subsequent weeks.

    Shape: one distinct over (user, week) — partial-aggregated, the
    shuffle carries pairs, not events — one groupBy(user) for the
    cohort assignment, one equi-join back, one matrix aggregate.
    Output: (cohort_week, periods_since, n_active, cohort_size,
    retention) with retention exact-integer-divided at the edge.
    """
    act = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    firsts = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    mat = (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("bigint")
            .alias("periods_since"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    return mat.join(sizes, "cohort_week").select(
        "cohort_week",
        "periods_since",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


#: truncated-EWMA window length (hours of history per prediction)
EWMA_LAGS = 8

#: EWMA decay 3/4 as integer lag weights: w_i = 3^(i-1)·4^(8-i) for the
#: i-th most recent observed hour; normalizer D = Σ w_i = 4^8 − 3^8
EWMA_WEIGHTS = [3 ** (i - 1) * 4 ** (EWMA_LAGS - i)
                for i in range(1, EWMA_LAGS + 1)]
EWMA_DENOM = sum(EWMA_WEIGHTS)  # 58975


def ewma_anomaly(events: DataFrame) -> DataFrame:
    """Per-event-type hourly rate anomalies against a truncated EWMA
    baseline — the standard streaming-telemetry alert, exact-integer
    end to end (decay 3/4 over the last 8 OBSERVED hours; weights are
    integer constants, the prediction is ``Σ wᵢ·x_{t−i}`` with
    normalizer D kept on the comparison side, so no division at all).

    ``anomaly`` flags hours whose count doubles (or halves) the EWMA
    prediction: ``x·D > 2·pred`` or ``2·x·D < pred``. Hours before a
    full 8-observation history are emitted with NULL prediction and
    never flagged (warm-up). Gap semantics: lags are over observed
    hours per type, so a silent hour ages out of the window rather
    than entering it as zero — documented observed-hours EWMA.

    One shuffle for the hourly aggregate; the lag window reuses the
    same (event_type) partitioning. Returns (event_type, hour, n,
    pred_q, anomaly).
    """
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    return ewma_flags(hourly)


def ewma_flags(hourly: DataFrame) -> DataFrame:
    """The EWMA flagging pass alone, over a prepared ``(event_type,
    hour, n)`` frame — shared by the batch query and the store-fed
    twin (:func:`ingest_ewma_hourly` + :func:`ewma_flags_from_store`),
    whose hourly counts are maintained incrementally and fold
    additively, so the maintained flags equal the batch answer for ANY
    arrival order."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hour")
    pred = None
    for i, wt in enumerate(EWMA_WEIGHTS, start=1):
        term = F.lag("n", i).over(w) * F.lit(wt)
        pred = term if pred is None else pred + term
    out = hourly.withColumn("pred_q", pred.cast("long"))
    xd = F.col("n") * F.lit(EWMA_DENOM)
    return out.select(
        "event_type",
        "hour",
        "n",
        "pred_q",
        F.when(
            F.col("pred_q").isNull(), F.lit(False)
        ).otherwise(
            (xd > 2 * F.col("pred_q")) | (2 * xd < F.col("pred_q"))
        ).alias("anomaly"),
    )


#: keys of the hourly-count agg store behind :func:`ewma_flags_from_store`
_EWMA_HOURLY_KEYS = ["event_type", "hour"]


def ingest_ewma_hourly(
    spark: SparkSession, store_table: str, events: DataFrame, *, batch_id: str
) -> int:
    """Fold an event batch into the hourly-count agg store: one
    ``n = 1`` delta per event, keyed by ``(event_type, hour)`` — work ∝
    the batch, never ∝ history — committed as ``batch_id`` (the agg
    store's batch-grained redelivery guard). Counts fold ADDITIVELY, so
    unlike the SCD2 fold any arrival order gives the batch answer. A
    file-drop feed passes this to ``streaming.file_source.
    run_available_now`` with ``batch_id=f"epoch-{epoch}"``."""
    from . import incremental

    deltas = events.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    return incremental.ingest_agg_deltas(
        spark, store_table, deltas, _EWMA_HOURLY_KEYS,
        {"n": F.lit(1).cast("long")}, batch_id=batch_id,
    )


def ewma_flags_from_store(spark: SparkSession, store_table: str) -> DataFrame:
    """Current anomaly flags from the maintained hourly counts —
    merge-on-read of the store (keys × batches rows) + the bounded
    EWMA window pass; equals :func:`ewma_anomaly` over every ingested
    event."""
    from . import incremental

    hourly = incremental.read_agg_store(
        spark, store_table, _EWMA_HOURLY_KEYS, ["n"]
    )
    return ewma_flags(hourly.select("event_type", "hour", "n"))
