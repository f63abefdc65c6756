"""Sessionization (gaps-and-islands) over an event stream.

The reference's trades table is stream-shaped (SURVEY.md §1.1) but the
reference itself is batch-only; sessionization is part of the analytic
surface we add (§2G q14).  Batch formulation is gaps-and-islands —
``lag`` + running sum of "new session" flags — chosen over
``session_window()`` because it is expressible in ANSI SQL for the
DuckDB oracle; the streaming twin (``streaming/sessions.py``) uses
``session_window`` + watermark.

Scale: one shuffle on the key; two window passes over the same
partitioning (Catalyst reuses the exchange) + a final hash agg on
(key, session_id) that also reuses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dispatch import per_key


def sessionize(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    key's previous event exceeds ``gap``.

    Returns the input columns plus ``session_id`` (1-based per key).
    Comparison is done in pure timestamp arithmetic (``ts > prev_ts +
    INTERVAL gap``) — exact to the microsecond, no epoch casts.
    """
    w = Window.partitionBy(key).orderBy(ts)
    prev_ts = F.lag(F.col(ts)).over(w)
    new_session = F.when(
        prev_ts.isNull() | (F.col(ts) > prev_ts + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    run = Window.partitionBy(key).orderBy(ts).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn(
        "session_id", F.sum(new_session).over(run).cast("long")
    )


def session_summary(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-session rollup: start, end, event count."""
    return (
        sessionize(events, key=key, ts=ts, gap=gap)
        .groupBy(key, "session_id")
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------
# Skew-safe sessionization: two-level time-bucket pre-split + stitch.
#
# The single-pass gaps-and-islands above partitions by KEY alone, so a
# hot key (30% of a 100 TB stream on one user) lands its entire history
# in ONE task's sort — measured 2.75-3.82x stragglers at sf10
# (SKEW_STRESS.json).  Salting is not semantics-preserving for sessions
# (a session would span salt boundaries), but TIME-bucketing is:
#
#   1. pre-split each key's events into fixed time buckets (width >=
#      gap) and run gaps-and-islands LOCALLY per (key, bucket) — the
#      hot key's sort spreads over |buckets| tasks;
#   2. islands that are strictly interior to a bucket can never merge
#      across buckets (their in-bucket neighbors are > gap away, and a
#      chain can only extend through the bucket's first/last island),
#      so they are FINAL sessions with no further work;
#   3. only each (key, bucket)'s first and last islands — at most
#      2 rows per key per bucket, regardless of how hot the key is —
#      enter a per-key stitch pass that re-runs gaps-and-islands over
#      island [start, end] intervals and merges chains that cross
#      bucket boundaries (an island joins its predecessor iff
#      start <= prev_end + gap, the same contiguity rule events use).
#
# Output is bit-identical to the single-pass operator (same oracle
# SQL): interior + stitched islands are exactly the maximal islands,
# and session ids are re-derived as the per-key rank by session start.
# The final rank is a per-key window again, but over SESSIONS — and a
# hot key is hot because it is dense, which is precisely when its
# session count collapses (3M events / 30 min gap -> a handful of
# sessions), so the stitch input is tiny where the event window was a
# straggler.  The residual worst case (a hot key of millions of
# SINGLETON sessions) is inherent to emitting per-key session ranks
# and is documented in SCALE.md.
# ---------------------------------------------------------------------

_INTERVAL_UNITS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
}


def _interval_seconds(interval: str) -> int:
    """Parse ``"N unit"`` (second/minute/hour/day, plural ok)."""
    n, unit = interval.strip().split()
    return int(float(n) * _INTERVAL_UNITS[unit.lower().rstrip("s")])


def _local_islands(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str,
    bucket: str,
    order_extra: tuple[str, ...] = (),
    head_cols: tuple[str, ...] = (),
    head_k: int = 3,
) -> DataFrame:
    """Level 1: per-(key, time-bucket) gaps-and-islands.

    Returns one row per LOCAL island: ``key, __bkt, __iid, __first,
    __last, __start, __end, __n`` (+ ``__head``: the island's first
    ``head_k`` rows as sorted ``struct(ts, *head_cols)``, when
    requested).  NULL timestamps all fall into the NULL bucket, where
    ``lag`` of a NULL ts is NULL, so each null row trips the
    new-session flag and becomes a singleton island — exactly what the
    single-pass operator's NULLS-FIRST event window produces (pinned
    in tests/test_sessionize.py); the stitch's NULLS-FIRST ordering
    then keeps them ahead of the key's real sessions.
    """
    gsec, bsec = _interval_seconds(gap), _interval_seconds(bucket)
    if bsec < gsec:
        raise ValueError(
            f"bucket ({bucket}) must be >= gap ({gap}): a sub-gap bucket "
            "lets islands merge across non-adjacent buckets"
        )
    order = [F.col(ts)] + [F.col(c) for c in order_extra]
    w = Window.partitionBy(key, "__bkt").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag(F.col(ts)).over(w)
    new_island = F.when(
        prev_ts.isNull() | (F.col(ts) > prev_ts + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    # ntz has no direct long cast; route through timestamp — any
    # MONOTONIC ts→epoch mapping yields correct buckets (correctness
    # rests on the chain argument, not on bucket alignment)
    e = events.withColumn(
        "__bkt",
        F.floor(F.col(ts).cast("timestamp").cast("long") / F.lit(bsec)),
    )
    e = e.withColumn("__iid", F.sum(new_island).over(run).cast("long"))
    aggs = [
        F.min(ts).alias("__start"),
        F.max(ts).alias("__end"),
        F.count(F.lit(1)).alias("__n"),
    ]
    if head_cols:
        # in-island row number without a second exchange: rank within
        # the (key, bucket) sort minus the rank at the island's start,
        # both carried by the SAME running frame as the island ids
        rn_b = F.row_number().over(w)
        start_rn = F.last(
            F.when(new_island == 1, rn_b), ignorenulls=True
        ).over(run)
        e = e.withColumn("__rn_in", rn_b - start_rn + 1)
        aggs.append(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn_in") <= head_k,
                            F.struct(F.col(ts), *[F.col(c) for c in head_cols]),
                        )
                    )
                ),
                1,
                head_k,
            ).alias("__head")
        )
    islands = e.groupBy(key, "__bkt", "__iid").agg(*aggs)
    wb = Window.partitionBy(key, "__bkt")
    islands = islands.withColumn("__first", F.col("__iid") == 1).withColumn(
        "__last", F.col("__iid") == F.max("__iid").over(wb)
    )
    # EXPOSURE refinement: being the bucket's first/last island is
    # necessary but not sufficient to merge across buckets — the
    # island must also REACH its bucket's edge within gap.  On sparse
    # data almost every island is its bucket's only island (first AND
    # last), so without this test the stitch would re-window ~all
    # islands per key and give the straggler right back; with it the
    # stitch input is only the ~2·gap/bucket fraction that sits within
    # gap of an edge.  Under the engine's pinned-UTC session tz
    # (session.py) the ntz→epoch mapping is exact-linear and a +1s
    # slack covers the second-floor of the epoch cast; under any OTHER
    # tz an offset transition can shrink an epoch-space edge distance
    # relative to ntz-space gap arithmetic, so the slack widens by the
    # LARGEST jump tzdata can express.  Seasonal DST is bounded by 2h
    # (Antarctica/Troll; ADVICE r10), but standard-offset changes are
    # not: date-line moves skip ~a full day (Pacific/Apia 2011,
    # Pacific/Kwajalein 1993, Kiritimati 1994; ADVICE r11).  Every
    # tzdata offset lies in [-12:00, +14:00], so no single transition
    # — seasonal or standard — can move the epoch mapping by more than
    # 26h; the non-UTC slack is gap+26h+1s (conservative: slack only
    # ever ADDS islands to the stitch — correctness never depends on
    # the slack being tight, and the engine's own sessions always take
    # the pinned-UTC +1s path).  NULL epochs (the NULL-ts island)
    # coalesce to exposed — the stitch is where they meet the key's
    # real sessions, matching the single-pass operator.
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone", "")
    slack = gsec + (1 if tz in ("UTC", "Etc/UTC", "GMT", "+00:00") else 93601)
    lo = F.col("__bkt") * F.lit(bsec)
    hi = (F.col("__bkt") + 1) * F.lit(bsec)
    s_ep = F.col("__start").cast("timestamp").cast("long")
    e_ep = F.col("__end").cast("timestamp").cast("long")
    exposed = (F.col("__first") & (s_ep < lo + F.lit(slack))) | (
        F.col("__last") & (e_ep + F.lit(slack) >= hi)
    )
    from ..session import scoped_persist

    # the island table feeds TWO consumers (the exposed-island stitch
    # and the interior pass-through); without a persist each branch
    # re-runs the whole event-level window pipeline — measured 2x on
    # the hot side.  O(islands) rows, orders below the event stream
    # for the dense keys the adaptive dispatch routes here.
    return scoped_persist(
        islands.withColumn("__exposed", F.coalesce(exposed, F.lit(True)))
    )


def _stitch(
    islands: DataFrame, *, key: str, gap: str, merge_aggs: list
) -> tuple[DataFrame, DataFrame]:
    """Level 2: merge boundary islands across buckets.

    ``merge_aggs`` are the aggregate columns that combine a chain of
    islands into one session (must include ``__start``/``__end``);
    interior islands pass through untouched.  Returns ``(stitched,
    interior)``: one row per FINAL cross-bucket session with the
    merge-agg columns, plus the untouched interior-island rows.
    """
    boundary = islands.filter(F.col("__exposed"))
    interior = islands.filter(~F.col("__exposed"))
    ws = Window.partitionBy(key).orderBy(F.col("__start").asc_nulls_first())
    run = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_end = F.lag(F.col("__end")).over(ws)
    new_chain = F.when(
        prev_end.isNull()
        | (F.col("__start") > prev_end + F.expr(f"INTERVAL {gap}")),
        1,
    ).otherwise(0)
    chained = boundary.withColumn("__cid", F.sum(new_chain).over(run))
    stitched = chained.groupBy(key, "__cid").agg(*merge_aggs)
    final_cols = [key] + [c for c in stitched.columns if c not in (key, "__cid")]
    # interior islands are already final sessions — emit them under the
    # same column names the merge-aggs produce (start/end/n/head map
    # 1:1 when the chain has a single island)
    return stitched.select(*final_cols), interior


def session_summary_skew_safe(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    bucket: str = "2 hours",
) -> DataFrame:
    """Drop-in, output-identical replacement for ``session_summary``
    that survives hot-key skew: per-session ``key, session_id,
    session_start, session_end, n_events``."""
    islands = _local_islands(events, key=key, ts=ts, gap=gap, bucket=bucket)
    stitched, interior = _stitch(
        islands,
        key=key,
        gap=gap,
        merge_aggs=[
            F.min("__start").alias("session_start"),
            F.max("__end").alias("session_end"),
            F.sum("__n").cast("long").alias("n_events"),
        ],
    )
    sessions = stitched.unionByName(
        interior.select(
            key,
            F.col("__start").alias("session_start"),
            F.col("__end").alias("session_end"),
            F.col("__n").cast("long").alias("n_events"),
        )
    )
    wid = Window.partitionBy(key).orderBy(
        F.col("session_start").asc_nulls_first()
    )
    return sessions.select(
        key,
        F.row_number().over(wid).cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    ).select(key, "session_id", "session_start", "session_end", "n_events")


#: Absolute hot-key floor of the sessionize windows (the probe's
#: relative term is ``dispatch.HOT_TASK_FACTOR``): a key past it
#: serializes one task's sort/window in the single-pass plan (the
#: measured 2.75-3.82x sf10 straggler); below it the single-pass plan
#: is strictly cheaper than the pre-split's island bookkeeping
#: (measured ~4x on sparse-uniform sf10, where islands ≈ events).
#:
#: The floor is the break-even between the straggler's extra wall
#: (≈ per-row window cost × hot rows, ~1-2 µs/row) and the
#: pre-split's overhead (probe + second scan + island bookkeeping,
#: ~1-1.5 s fixed at these scales).  Measured both sides (VERDICT r10
#: item 3, skew1 vs skew10 replicas): a 300k-row hot key is CHEAPER
#: single-pass (q107 1.75x adaptive vs 0.91x single-pass; q14 1.62x
#: vs 1.09x — the old 250k floor mis-dispatched it), while the 3M-row
#: hot key is where the pre-split wins (3.82x single-pass vs 1.34x).
#: Linear interpolation of those measurements puts the crossover near
#: 1M rows.
HOT_MIN_ROWS = 1_000_000


def session_summary_adaptive(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    bucket: str = "2 hours",
    max_rows: int | None = None,
) -> DataFrame:
    """``session_summary`` with PER-KEY skew-adaptive planning: keys
    that would straggle run the two-level time-bucket pre-split, every
    other key keeps the strictly-cheaper single per-key window, and
    the two branches union — keys are disjoint across branches, and
    both plans are output-identical per key (same oracle SQL), so the
    dispatch is invisible to correctness.  Splitting per key instead
    of switching the whole input means a skewed dataset doesn't pay
    the pre-split's island bookkeeping for its millions of COLD keys
    — the measured difference between a 2.0x and ~1.2x hot/uniform
    wall ratio at sf10.  ``max_rows`` bounds ``events``' rows (see
    ``dispatch.hot_keys``)."""
    return per_key(
        events,
        key,
        lambda d: session_summary(d, key=key, ts=ts, gap=gap),
        lambda d: session_summary_skew_safe(
            d, key=key, ts=ts, gap=gap, bucket=bucket
        ),
        HOT_MIN_ROWS,
        max_rows,
    )


def _openings_single_pass(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str,
    order_extra: tuple[str, ...],
    head_cols: tuple[str, ...],
    head_k: int,
) -> DataFrame:
    """Single-exchange per-session opening slice (q107's original
    shape): islands window + per-session sorted collect.  Collects
    whole sessions before slicing — fine when no key is hot, which is
    exactly when the adaptive dispatch picks it."""
    order = [F.col(ts)] + [F.col(c) for c in order_extra]
    ow = Window.partitionBy(key).orderBy(*order)
    run = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag(F.col(ts)).over(ow)
    new_s = F.when(
        prev_ts.isNull() | (F.col(ts) > prev_ts + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    sess = events.withColumn("__sid", F.sum(new_s).over(run))
    return sess.groupBy(key, "__sid").agg(
        F.min(ts).alias("session_start"),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(ts), *[F.col(c) for c in head_cols])
                )
            ),
            1,
            head_k,
        ).alias("__head"),
    ).select(key, "session_start", "__head")


def session_openings_adaptive(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    bucket: str = "2 hours",
    order_extra: tuple[str, ...] = (),
    head_cols: tuple[str, ...] = (),
    head_k: int = 3,
    max_rows: int | None = None,
) -> DataFrame:
    """``session_openings_skew_safe`` with the same PER-KEY
    skew-adaptive split as ``session_summary_adaptive`` (identical
    output either way, and the same ``max_rows`` bound)."""
    kw = dict(
        key=key,
        ts=ts,
        gap=gap,
        order_extra=order_extra,
        head_cols=head_cols,
        head_k=head_k,
    )
    return per_key(
        events,
        key,
        lambda d: _openings_single_pass(d, **kw),
        lambda d: session_openings_skew_safe(d, bucket=bucket, **kw),
        HOT_MIN_ROWS,
        max_rows,
    )


def session_openings_skew_safe(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    bucket: str = "2 hours",
    order_extra: tuple[str, ...] = (),
    head_cols: tuple[str, ...] = (),
    head_k: int = 3,
) -> DataFrame:
    """Skew-safe per-session OPENING slice: one row per final session
    with ``__head`` = the first ``head_k`` events as sorted
    ``struct(ts, *head_cols)`` — q107's path-mining shape without ever
    collecting a whole session (per-island state is capped at
    ``head_k`` structs, so a 3M-event hot session costs 3 structs per
    bucket, not 3M)."""
    islands = _local_islands(
        events,
        key=key,
        ts=ts,
        gap=gap,
        bucket=bucket,
        order_extra=order_extra,
        head_cols=head_cols,
        head_k=head_k,
    )
    stitched, interior = _stitch(
        islands,
        key=key,
        gap=gap,
        merge_aggs=[
            F.min("__start").alias("session_start"),
            # islands in a chain have disjoint, ordered spans — sort by
            # span start, concatenate the per-island openings, keep k
            F.slice(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__start", "__head"))
                        ),
                        lambda s: s["__head"],
                    )
                ),
                1,
                head_k,
            ).alias("__head"),
        ],
    )
    return stitched.unionByName(
        interior.select(
            key, F.col("__start").alias("session_start"), "__head"
        )
    )
