"""The superstep driver: every iterative Spark loop in the engine runs
through :func:`fixpoint`.

Connected components, frontier Bellman-Ford, label propagation,
PageRank, block-synchronous cost distance, pointer-doubling path
traces, the kNN radius rounds and the k-means/PQ Lloyd iterations are
all the same loop: a step maps the previous round's state frames to the
next round's, each round is materialized so the plan stays flat, an
aggregate probe decides termination, and an unconverged loop raises
instead of returning wrong answers.  :func:`fixpoint` owns all of it —
checkpointing, planner-stats hygiene, termination, the cap raise and
cache release — so an operator supplies only its step.

Why a bare eager ``localCheckpoint`` per round is not enough on Spark
3.4+/4.x: it PRESERVES the child plan's size-in-bytes ESTIMATE on the
resulting ``LogicalRDD`` (so AQE and broadcast decisions keep working
across the truncation), and Catalyst's size-only estimator multiplies
child sizes at every join.  A loop whose round plan joins the previous
round's frame with itself (pointer jumping joins it TWICE: size ->
size^4) therefore compounds the carried estimate geometrically — the
BigInteger digit count grows 2-4x per round, planning time explodes once
the numbers reach ~10^5 digits, and a long enough loop dies with
``ArithmeticException: BigInteger would overflow supported range`` (hit
by the round-8 contour_stitch gate run; see OPTIMIZATION_r08.md
"Inherited state").

:func:`loop_checkpoint` bounds the carried statistic by PERSISTING the
round frame before checkpointing it: the round's action materializes
the cache, and from then on every plan that references the frame reads
the InMemoryRelation's REAL materialized byte size instead of the
compounded estimate.  The driver does that on the init checkpoint and
on every :data:`RESET_EVERY`-th round; the rounds between are plain
eager checkpoints whose estimate grows a bounded factor.  Each state
frame keeps a rolling window of one cache, released once the next reset
has landed and in any case when the loop ends — converged, capped or
failed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

# Stats reset cadence: the carried estimate's digit count grows a
# bounded factor (2-4x) per unreset round, so resetting every 4th round
# keeps it below ~5k digits (sub-ms BigInt arithmetic) while paying the
# cache-write cost on only a quarter of the rounds (measured: the
# every-round persist cost ~0.17 s/round on the 100k-edge CC bench,
# ~28% of the round).
RESET_EVERY = 4


def loop_checkpoint(df: DataFrame, prev: DataFrame | None = None,
                    reset: bool = True) -> tuple[DataFrame, DataFrame]:
    """Materialize one loop round with bounded planner statistics.

    Returns ``(checkpointed, cache_handle)``.  ``checkpointed`` is the
    eager localCheckpoint (flat plan, truncated lineage) to use as the
    next round's input; pass ``cache_handle`` back as ``prev`` on the
    NEXT call so the previous round's cache is released only after the
    new round is materialized.  Any ``Observation`` attached to ``df``
    fires during this call's action.  ``reset=False`` skips the persist
    and carries ``prev`` forward — a plain eager checkpoint.
    """
    if not reset:
        return df.localCheckpoint(eager=True), prev
    cache = df.persist()
    out = cache.localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    return out, cache


def fixpoint(step, init, *, max_rounds: int, name: str,
             probe: Column | None = None, stats: dict | None = None):
    """Run ``step`` from ``init`` until ``probe`` reads zero.

    ``init`` is one state frame or a tuple of them; ``step(state, seen)``
    returns the next round's frame(s) in the same shape, built from the
    frames it is given (never from each other: each is checkpointed on
    its own).  ``seen`` is the previous round's probe value — ``None``
    before the first round.

    ``init`` is checkpointed first (any Observation the caller attached
    to it fires there), then every round's frames, in order.  ``probe``
    is an aggregate Column over the FIRST frame; it rides that frame's
    checkpoint job as an Observation, so no separate count job decides
    termination.  When it reads zero or empty the loop stops at once:
    the round's later frames are not materialized and keep their
    previous values (a step whose probe reads zero has changed nothing
    else the caller reads).  ``stats["rounds"]`` then receives the
    rounds run, the stopping round included.  After ``max_rounds``
    rounds without a zero probe the driver raises ``RuntimeError``.

    Without a ``probe`` the loop runs exactly ``max_rounds`` rounds —
    the fixed-iteration contract of PageRank, label propagation and
    Lloyd training.

    Returns the final state in ``init``'s shape.  Every cache the driver
    created is released on the way out, whether the loop converged,
    hit the cap or failed.
    """
    single = isinstance(init, DataFrame)
    frames = [init] if single else list(init)
    caches = [None] * len(frames)

    def shaped():
        return frames[0] if single else tuple(frames)

    try:
        for i, df in enumerate(frames):
            frames[i], caches[i] = loop_checkpoint(df)
        seen = None
        for r in range(max_rounds):
            nxt = step(shaped(), seen)
            reset = r % RESET_EVERY == RESET_EVERY - 1
            for i, df in enumerate([nxt] if single else nxt):
                obs = Observation() if i == 0 and probe is not None else None
                if obs is not None:
                    df = df.observe(obs, probe.alias("probe"))
                frames[i], caches[i] = loop_checkpoint(df, caches[i], reset)
                if obs is not None:
                    seen = obs.get["probe"]
                    if not seen:
                        if stats is not None:
                            stats["rounds"] = r + 1
                        return shaped()
        if probe is None:
            return shaped()
        raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")
    finally:
        for c in caches:
            if c is not None:
                c.unpersist()
