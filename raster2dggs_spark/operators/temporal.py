"""Temporal joins — distributed as-of join (point-in-time lookup).

The classic time-series primitive Spark lacks natively (DuckDB/kdb/pandas
``merge_asof`` all carry it): for every left row, the single right row
with the LARGEST timestamp <= the left timestamp (direction="backward";
"forward" mirrors it), per join key.  This is the point-in-time-correct
feature lookup of every training-data pipeline (label events joined to
the latest feature snapshot at-or-before the label time — no leakage
from the future).

Spark-first plan — the union + ordered-window carry-forward:

1. Tag both sides and ``unionByName`` them (right rows sort BEFORE left
   rows at an equal timestamp, so an exactly-simultaneous right row is
   visible to the left row — the ``>=`` inclusive convention of DuckDB's
   ``ASOF JOIN``).
2. ONE exchange: a window partitioned by the join key, ordered by
   (ts, side, right-tiebreak), carrying ``last(right_struct,
   ignorenulls=True)`` over UNBOUNDED PRECEDING..CURRENT ROW.  Spark
   sorts each key's partition once; no join node at all, so there is no
   build side to size and nothing to broadcast.
3. Keep the left rows, unpack the carried struct, apply the optional
   tolerance (a carried match older than ``tolerance_s`` nulls out).

Scale shape (100 TB): the single shuffle is keyed by the join key — the
same exchange a relational equi-join of the two inputs would pay, but
with no second sort and no build-side hash table.  Within a key the
window is a streaming prefix scan (one pass, O(1) state — Spark's
UnboundedPreceding..CurrentRow frame never buffers the partition).  Skew
is the per-key row count: a single entity with billions of rows
single-tasks, exactly like any per-key window; for that regime,
pre-aggregate the right side to (key, coarse-time-bucket) summaries and
as-of join the summaries (the bucketed two-pass), which this operator's
callers can compose from ``groupBy`` + a second ``asof_join``.

Duplicate right rows at the SAME (key, ts): resolved by ``tiebreak``
(largest wins), making the result total-ordered and engine-reproducible
— DuckDB's ASOF JOIN leaves this unspecified, so the oracle pre-dedupes
with a QUALIFY row_number() on the same rule.

Reference scope note: the reference engine (raster2dggs) has no temporal
joins at all — this operator is part of the training-data-pipeline
surface this engine adds on top (brief: "as-of join" under custom
operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: list[str] | None = None,
              value_cols: list[str] | None = None,
              tiebreak: str | None = None,
              direction: str = "backward",
              tolerance_s: float | None = None,
              suffix: str = "_right") -> DataFrame:
    """As-of (point-in-time) left join.

    For every ``left`` row, attach ``value_cols`` from the ``right`` row
    with the largest ``on`` <= left.``on`` (direction="backward") or the
    smallest ``on`` >= left.``on`` ("forward"), matching on the ``by``
    key columns.  Unmatched left rows keep NULLs.  ``matched_ts`` carries
    the matched right timestamp.  ``tolerance_s`` (seconds) drops matches
    farther than the tolerance (inclusive).

    ``tiebreak``: right column ordering duplicates at an equal (by, on)
    instant — the largest tiebreak value wins (total order; required for
    cross-engine reproducibility when such duplicates can exist).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction backward|forward, got {direction!r}")
    by = list(by or [])
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in by and c != on and c != tiebreak]
    carried = list(value_cols)
    if tiebreak is not None and tiebreak not in carried:
        carried = carried + [tiebreak]

    lcols = [c for c in left.columns]
    # right rows sort before left rows at an equal instant so the match
    # is inclusive (>=); forward direction reverses the time axis.
    l_tag = left.select(
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in carried],
        F.lit(1).alias("__side"),
    )
    r_tag = right.select(
        *[F.col(c) for c in by],
        F.col(on).alias(on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in by and c != on],
        *[F.col(c).alias(f"__r_{c}") for c in carried],
        F.lit(0).alias("__side"),
    )
    u = l_tag.unionByName(r_tag, allowMissingColumns=False)

    sign = 1 if direction == "backward" else -1
    order_ts = (F.unix_micros(F.col(on).cast("timestamp")) * sign)
    order = [order_ts.asc(), F.col("__side").asc()]
    if tiebreak is not None:
        order.append(F.col(f"__r_{tiebreak}").asc_nulls_first())
    w = (Window.partitionBy(*[F.col(c) for c in by])
         .orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    match_struct = F.when(
        F.col("__side") == 0,
        F.struct(F.col(on).cast("timestamp").alias("__mts"),
                 *[F.col(f"__r_{c}").alias(c) for c in value_cols]))
    carriedm = F.last(match_struct, ignorenulls=True).over(w)

    out = (u.withColumn("__m", carriedm)
           .where(F.col("__side") == 1))
    mts = F.col("__m.__mts")
    if tolerance_s is not None:
        dt = (F.unix_micros(F.col(on).cast("timestamp"))
              - F.unix_micros(mts)) * sign
        ok = dt <= int(round(tolerance_s * 1_000_000))
        keep = F.when(ok, F.col("__m"))
    else:
        keep = F.col("__m")
    out = out.withColumn("__k", keep)
    sel = [F.col(c) for c in lcols]
    sel.append(F.col("__k.__mts").alias("matched_ts"))
    for c in value_cols:
        name = c + (suffix if c in lcols else "")
        sel.append(F.col(f"__k.{c}").alias(name))
    return out.select(*sel)


def range_join(points: DataFrame, intervals: DataFrame, on: str = "ts",
               start: str = "start_ts", end: str = "end_ts",
               by: list[str] | None = None,
               bucket_s: float = 3600.0,
               how: str = "inner",
               max_buckets_per_interval: int = 100_000) -> DataFrame:
    """Interval containment join: point ⋈ interval where
    ``start <= point.on < end`` (half-open — the events-in-session /
    attribution-window shape), optionally also matching ``by`` keys.

    Spark-first plan — the bucketized range join (the optimization
    Spark's own planner applies only with a vendor range-join hint; a
    plain inequality join falls back to BroadcastNestedLoopJoin, which
    is O(|P|·|I|) and a non-starter at scale):

    1. Each point lands in ONE time bucket ``floor(on / bucket_s)``.
    2. Each interval EXPLODES to every bucket it overlaps
       (``sequence(floor(start/b), floor((end-ε)/b))``).
    3. Equi-join on (by…, bucket) — a plain shuffled hash join Catalyst
       and AQE fully optimize — then the exact range predicate filters.

    A (point, interval) pair can meet only in the point's own bucket,
    so the join is duplicate-free by construction (no post-dedupe).

    Scale shape (100 TB): shuffle volume is |P| + Σ⌈len/bucket⌉ rows —
    pick ``bucket_s`` near the TYPICAL interval length so most
    intervals land in 1-2 buckets; pathological very-long intervals are
    guarded by ``max_buckets_per_interval`` (raise = fix bucket_s, not
    silence).  Skewed bucket keys (one hot hour) behave like any
    equi-join skew — AQE skew-join splits them.

    ``how``: "inner" (matched pairs) or "left" (points with no covering
    interval kept, interval side NULL).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how inner|left, got {how!r}")
    by = list(by or [])
    overlap = set(points.columns) & set(intervals.columns) - set(by)
    if overlap:
        raise ValueError(
            f"ambiguous columns {sorted(overlap)}: rename before range_join")
    bucket_us = int(round(bucket_s * 1_000_000))
    if bucket_us <= 0:
        raise ValueError("bucket_s must be > 0")

    p_us = F.unix_micros(F.col(on).cast("timestamp"))
    s_us = F.unix_micros(F.col(start).cast("timestamp"))
    e_us = F.unix_micros(F.col(end).cast("timestamp"))

    p = points.withColumn("__pb", F.floor(p_us / bucket_us))
    # half-open [start, end): the last occupied bucket is the one
    # holding end - 1 microsecond; empty/negative intervals vanish.
    first_b = F.floor(s_us / bucket_us)
    last_b = F.floor((e_us - F.lit(1)) / bucket_us)
    nb = last_b - first_b + 1
    guard = F.when(nb > max_buckets_per_interval, F.raise_error(F.concat(
        F.lit("range_join: interval spans "), nb.cast("string"),
        F.lit(f" buckets (> {max_buckets_per_interval}); raise bucket_s"),
    ))).otherwise(nb)
    # the guard rides INSIDE the sequence bound so column pruning can't
    # drop it (an unused withColumn would be optimized away silently)
    iv = (intervals
          .where(e_us > s_us)
          .withColumn("__ib", F.explode(
              F.sequence(first_b, first_b + guard - 1))))

    cond = [p["__pb"] == iv["__ib"]]
    cond += [p[c] == iv[c] for c in by]
    cond.append(p_us >= s_us)
    cond.append(p_us < e_us)
    joined = p.join(iv, cond, "inner" if how == "inner" else "left_outer")
    sel = [p[c] for c in points.columns]
    sel += [iv[c] for c in intervals.columns if c not in by]
    return joined.select(*sel)


def funnel(events: DataFrame, steps, entity_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type",
           within_s: float | None = None) -> DataFrame:
    """Ordered funnel conversion (the product-analytics staple —
    Amplitude/Mixpanel funnels, MATCH_RECOGNIZE-lite): per entity,
    step k is reached at the EARLIEST event of type ``steps[k]``
    STRICTLY AFTER the step-(k-1) reach time (first-touch semantics;
    equal timestamps do not chain); ``within_s`` bounds every step's
    reach time to ``t1 + within_s`` seconds (window anchored at the
    FIRST step, the common funnel contract).

    Output: one row per step — ``(step, event_type, n_entities,
    frac_of_first)``.  Step frames are eagerly checkpointed (each is
    read twice — the next step's join and its own count — so lineage
    stays linear in K); counts union lazily, no collect.

    Scale shape (100-TB): K-1 equi-joins on the entity key, each
    against the single-type event slice (predicate pushdown prunes the
    scan), each followed by a map-side-combinable min; no window over
    a global key, state per entity is ONE timestamp per step.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = (events.where(F.col(type_col) == steps[0])
           .groupBy(F.col(entity_col).alias("__e"))
           .agg(F.min(ts_col).alias("__t")))
    # eager checkpoint per frame: each step frame is read TWICE (the
    # next step's join and its own count), and frame k's lineage
    # embeds frames 0..k-1 — without materialization the final union
    # re-executes the event scan O(K^2) times (code-review finding)
    cur = (cur.withColumn("__t1", F.col("__t"))
           .localCheckpoint(eager=True))
    frames = [cur]
    for s in steps[1:]:
        ev = events.where(F.col(type_col) == s).select(
            F.col(entity_col).alias("__e"), F.col(ts_col).alias("__ts"))
        j = ev.join(frames[-1], "__e").where(F.col("__ts") > F.col("__t"))
        if within_s is not None:
            # micros-exact bound (the asof_join tolerance idiom): the
            # old INTERVAL {int(within_s)} SECONDS silently truncated
            # fractional windows (0.5 s became 0 s — code-review
            # finding); identical for integer within_s
            j = j.where(F.unix_micros(F.col("__ts").cast("timestamp"))
                        <= F.unix_micros(F.col("__t1").cast("timestamp"))
                        + int(round(within_s * 1_000_000)))
        nxt = (j.groupBy("__e")
               .agg(F.min("__ts").alias("__t"),
                    F.first("__t1").alias("__t1"))
               .localCheckpoint(eager=True))
        frames.append(nxt)
    first_n = frames[0].agg(F.count(F.lit(1)).alias("__n1"))
    rows = None
    for k, (s, f) in enumerate(zip(steps, frames), start=1):
        r = f.agg(F.count(F.lit(1)).alias("n_entities")).select(
            F.lit(k).cast("long").alias("step"),
            F.lit(s).alias("event_type"), "n_entities")
        rows = r if rows is None else rows.unionByName(r)
    return (rows.crossJoin(F.broadcast(first_n))
            .select("step", "event_type",
                    F.col("n_entities").cast("long").alias("n_entities"),
                    F.round(F.col("n_entities") / F.col("__n1"), 6)
                    .alias("frac_of_first")))


def cohort_retention(events: DataFrame, entity_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort retention (the classic retention triangle): each
    entity's cohort is the ISO week (``date_trunc('week', ...)``,
    Monday) of its FIRST event; for every (cohort, week offset) the
    number of distinct entities active that week and the retention
    fraction of the cohort.  Offsets are DATE arithmetic
    (``datediff(days) / 7`` between the two Mondays — exact integers,
    immune to timezone/DST epoch drift), so both engines agree
    bit-for-bit.

    Scale shape: one min-per-entity aggregate, one entity equi-join
    back to events, one distinct + two groupBys — all map-side
    combinable; no window, no collect.
    """
    first = (events.groupBy(F.col(entity_col).alias("__e"))
             .agg(F.date_trunc("week", F.min(ts_col)).alias("__cw")))
    act = (events.select(F.col(entity_col).alias("__e"),
                         F.date_trunc("week", F.col(ts_col)).alias("__aw"))
           .join(first, "__e")
           .select("__e", "__cw",
                   (F.datediff(F.col("__aw").cast("date"),
                               F.col("__cw").cast("date")) / 7)
                   .cast("long").alias("week_offset"))
           .distinct())
    size = (first.groupBy("__cw")
            .agg(F.count(F.lit(1)).alias("cohort_size")))
    ret = (act.groupBy("__cw", "week_offset")
           .agg(F.count(F.lit(1)).alias("n_active")))
    return (ret.join(size, "__cw")
            .select(F.col("__cw").alias("cohort_week"), "week_offset",
                    F.col("n_active").cast("long").alias("n_active"),
                    F.col("cohort_size").cast("long")
                    .alias("cohort_size"),
                    F.round(F.col("n_active") / F.col("cohort_size"), 6)
                    .alias("retention")))


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """(user_id, session_idx, n_events, start_ts, end_ts) per session —
    a new session starts when the gap to the previous event exceeds
    ``gap_seconds``.  session_idx is 0-based per user in time order.
    Lag + cumulative sum over a per-user window: native expressions
    only, exactly reproducible in ANSI SQL."""
    e = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond gap arithmetic, so sub-second events sessionize exactly
    gap = (
        F.unix_micros("ts")
        - F.unix_micros(F.lag("ts").over(w))
    )
    marked = e.withColumn(
        "__new",
        F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_idx", F.sum("__new").over(w).cast("long") - 1
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )
