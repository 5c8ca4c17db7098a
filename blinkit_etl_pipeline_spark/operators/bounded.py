"""Plan-compile bracket for CONTRACT-BOUNDED iterative subplans.

The round loops of the iterative operators (pagerank_delta's frontier
propagation, the graph-walk expansion rounds) build frames whose sizes
are bounded by operator contract — frontier caps, |Q|·beam·k pools —
independent of corpus size. Under AQE, even a LAZY
``localCheckpoint(eager=False)`` is not lazy: ``Dataset.rdd`` on an
adaptive plan runs ``getFinalPhysicalPlan()``, which EXECUTES every
upstream query stage (shuffles, broadcast builds) before returning the
RDD — so each round's plan-compile blocks on a chain of stage-barrier
jobs whose replanning has nothing to adapt (the sizes are known bounded
a priori). Measured on a round-shaped probe (OPTIMIZATION_r14.md, "The
per-checkpoint toRdd floor"; local[32]): construct 0.75 s/checkpoint with AQE vs 0.27 s without,
with the deferred stages then pipelining inside the ONE final
materialization job.

``bounded_plan()`` therefore disables AQE for the *construction* of
such subplans only, restoring the session conf on exit. This is not a
local[N] tuning: the bracketed frames are bounded at ANY scale, which
is exactly when adaptive replanning is pure overhead; the corpus-sized
plans around them (scans, stores, output assembly) keep AQE.

Without AQE's runtime coalescing, the bracket's exchanges would fall
back to the session's static ``spark.sql.shuffle.partitions`` — sized
for CORPUS work — so every bounded distinct/window would launch that
many near-empty tasks (measured: the full pytest suite, whose
lifecycle tests call these operators hundreds of times at tiny scale,
regressed ~8% from exactly this). The bracket therefore also pins
``spark.sql.shuffle.partitions`` to BOUNDED_SHUFFLE_PARTITIONS for the
frames it builds: contract-bounded row counts (|Q|·beam·k, |Q|·C,
frontier caps) need single-digit partitions at ANY corpus size —
that is what "bounded" means. Results are unaffected (partitioning
never changes the exact-integer folds or per-key window ranks; oracle
+ pytest pin every caller).

Thread note: Spark session conf is session-global, so a concurrent
thread planning DURING the bracket (e.g. an overlapped guard job)
compiles non-adaptively too — identical results, marginally different
stage shapes; the brackets are short (driver-side plan building).
Brackets themselves may OVERLAP across threads (the beam-sweep runs
three walk constructions concurrently) — a per-session depth counter
makes the bracket reentrant: the pre-bracket value is read once at
depth 0 and restored only when the last bracket exits, so an inner
bracket can never capture a sibling's "false" and pin AQE off for the
rest of the session.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

_LOCK = threading.Lock()
#: sessionId -> [depth, saved_aqe, saved_parts]
_STATE: dict = {}

#: static partition count for bracketed exchanges — contract-bounded
#: frames (|Q|·beam·k, |Q|·C, frontier caps) need single-digit
#: partitions at ANY corpus size
BOUNDED_SHUFFLE_PARTITIONS = 4


@contextmanager
def bounded_plan(spark):
    """Disable AQE and pin a bounded-frame-sized static shuffle
    partition count while constructing contract-bounded iterative
    subplans; restore both settings when the outermost bracket exits
    (exceptions included). Reentrant and overlap-safe across driver
    threads of one session."""
    conf = spark.conf
    key = id(spark)
    with _LOCK:
        st = _STATE.get(key)
        if st is None:
            st = [
                0,
                conf.get("spark.sql.adaptive.enabled"),
                conf.get("spark.sql.shuffle.partitions"),
            ]
            _STATE[key] = st
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set(
                "spark.sql.shuffle.partitions",
                str(BOUNDED_SHUFFLE_PARTITIONS),
            )
        st[0] += 1
    try:
        yield
    finally:
        with _LOCK:
            st[0] -= 1
            if st[0] == 0:
                conf.set("spark.sql.adaptive.enabled", st[1])
                conf.set("spark.sql.shuffle.partitions", st[2])
                del _STATE[key]
