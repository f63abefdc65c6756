"""Hierarchical interval-aggregation decomposition — the LINEAR
INSURANCE form of the per-anchor time-window aggregate (q03's shape:
for each anchor row, COUNT/SUM over the same key's events inside a
fixed trailing/leading interval).

Cost model, MEASURED at round 11 with HONEST FORCING (the noop sink,
``plans.force_evaluate`` — ``count()``-forced timings let Catalyst
prune the aggregate and DELETE the join, which is how round 10
"measured" the naive join at 1.4 s and how this round's first pass
mis-calibrated the dispatch floor to 1e12; SCALE.md round-11):

* The naive equality + interval theta join never materializes a pair
  shuffle, but its SMJ re-scans the buffered per-key group once per
  anchor row on ONE task (~5e6 pairs/s; AQE's skew split cannot cut
  inside a single key's sort group).  Real cost: skew1's hot key
  (~6.2e8 pairs) 126 s; skew10's (~6.2e10 pairs) killed at >2700 s.
  Quadratic in per-key density AND a straggler.
* The decomposition replaces pairs with a ~141-280-row fan-out PER
  ANCHOR joined against per-(key, hour/minute) pre-aggregates —
  parallel, linear in anchors: 3.1 s at 62k hot anchors, 8.8 s at
  620k (same measurement protocol, hot key only).

Break-even ≈ 1.5e7 pairs on one key (naive ≈ pairs/5e6 s vs
decomposition ≈ 2.5 + 1e-5·anchors s) — `trailing_interval_agg_adaptive`
routes keys past PAIR_FLOOR (2e7) here and keeps genuinely small keys
on the naive join, whose fixed cost is lower.

The decomposition is the classic segment-tree/odometer argument: a
fixed-length window (s, s + L] tiles EXACTLY into
  - full HOURS strictly inside the window,
  - full MINUTES covering the partial first/last hours,
  - raw EVENTS in the two partial boundary minutes,
so a COUNT/SUM decomposes into three strata, each an EQUI join:

  1. events pre-aggregate once per (key, hour)  — combinable, skew-
     immune (map-side partials), reused by every anchor;
  2. events pre-aggregate once per (key, minute) — ditto;
  3. anchors explode to their ~23 hour keys + ≤118 minute keys +
     2 boundary-minute keys (a ~280-row fan-out PER ANCHOR, constant
     in data volume) and hash-join the pre-aggregates on
     (key, bucket) — the hot key's buckets spread over the hash
     space, so no task sees more than one bucket's slice.

Every stratum sums exact integers (counts and cent-sums), so the
result is bit-identical to the naive pair join at any execution order
— the oracle SQL is UNCHANGED.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dispatch import split_by_keys

HOUR = 3600
MINUTE = 60


#: Session-tz spellings under which the ntz→timestamp→long epoch map
#: is linear (no DST discontinuities).  The tiling below RELIES on
#: linearity for correctness — not just performance — so any other tz
#: is rejected loudly rather than silently miscounting the strata
#: (ADVICE r10: unlike sessionize's exposure slack, which only gates a
#: performance refinement, a shifted hour/minute stratum here would
#: change the answer).
_LINEAR_TZS = ("UTC", "Etc/UTC", "GMT", "+00:00", "Z")


def _epoch(col: Column) -> Column:
    """Exact epoch seconds (truncated) of a timestamp[_ntz] column —
    valid ONLY under a linear session tz (checked by the caller)."""
    return col.cast("timestamp").cast("long")


def trailing_interval_agg(
    anchors: DataFrame,
    events: DataFrame,
    *,
    key: str,
    anchor_ts: str = "s_ts",
    event_ts: str = "f_ts",
    window_seconds: int = 86400,
    sum_col: str = "__cents",
    count_alias: str = "n_follow",
    sum_alias: str = "sum_cents",
) -> DataFrame:
    """For each anchor row: COUNT(events) and SUM(events.sum_col) over
    the same ``key``'s events with ``anchor_ts < event_ts <=
    anchor_ts + window_seconds``, WITHOUT materializing the pairs.

    ``anchors`` must carry ``key``, ``anchor_ts`` and any pass-through
    columns (all preserved); ``events`` must carry ``key``,
    ``event_ts`` and integer ``sum_col``.  ``window_seconds`` must be
    a multiple of one hour (the tiling bottoms out at minutes).
    Returns one row per anchor with ``count_alias``/``sum_alias``
    (sum is NULL when the window is empty, like the naive LEFT join).
    """
    if window_seconds % HOUR != 0:
        raise ValueError("window_seconds must be a whole number of hours")
    tz = anchors.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if tz not in _LINEAR_TZS:
        raise ValueError(
            f"trailing_interval_agg requires a UTC session timeZone "
            f"(got {tz!r}): the hour/minute bucket tiling assumes the "
            "ntz→epoch map is linear, and a DST transition would shift "
            "the strata by the offset change (the engine pins UTC in "
            "session.py; set spark.sql.session.timeZone=UTC)"
        )
    n_hours = window_seconds // HOUR

    ev = events.select(
        F.col(key).alias("__k"),
        _epoch(F.col(event_ts)).alias("__es"),
        F.col(event_ts).alias("__ets"),
        F.col(sum_col).alias("__v"),
    )
    # floor (not long-cast truncation) so bucket indices stay
    # consistent for any epoch sign
    by_hour = ev.groupBy(
        "__k", F.floor(F.col("__es") / HOUR).alias("__h")
    ).agg(F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__s"))
    by_minute = ev.groupBy(
        "__k", F.floor(F.col("__es") / MINUTE).alias("__m")
    ).agg(F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__s"))

    a = anchors.select(
        "*",
        F.col(key).alias("__k"),
        _epoch(F.col(anchor_ts)).alias("__as"),
    )
    # minute/hour coordinates of the window (s, s+L]:
    #   m_lo = minute(s)           — partial: events with ts > s
    #   m_hi = m_lo + L/60         — partial: events with ts <= s+L
    #   full minutes (m_lo, m_hi) exclusive, EXCEPT those inside a
    #   full hour; full hours are (h_lo, h_hi) exclusive where
    #   h_lo = hour(s), h_hi = h_lo + L/3600.
    a = (
        a.withColumn("__m_lo", F.floor(F.col("__as") / MINUTE))
        .withColumn("__m_hi", F.col("__m_lo") + window_seconds // MINUTE)
        .withColumn("__h_lo", F.floor(F.col("__as") / HOUR))
        .withColumn("__h_hi", F.col("__h_lo") + n_hours)
    )

    akey = [F.col(c) for c in anchors.columns]

    def _seq(lo: Column, hi: Column) -> Column:
        # sequence() is inclusive AND generates a DESCENDING range
        # when lo > hi — an empty tiling stratum (anchor on an exact
        # hour/minute) must emit nothing, not a reversed range
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )

    # stratum 1: full hours strictly inside the window
    hours = a.select(
        *akey,
        "__k",
        F.explode(
            _seq(F.col("__h_lo") + 1, F.col("__h_hi") - 1)
        ).alias("__h"),
    ).join(by_hour, ["__k", "__h"])
    # stratum 2: full minutes covering the two partial hours — from
    # m_lo+1 to the end of hour h_lo, and from the start of hour h_hi
    # to m_hi-1
    head = a.select(
        *akey,
        "__k",
        F.explode(
            _seq(
                F.col("__m_lo") + 1,
                (F.col("__h_lo") + 1) * (HOUR // MINUTE) - 1,
            )
        ).alias("__m"),
    )
    tail = a.select(
        *akey,
        "__k",
        F.explode(
            _seq(F.col("__h_hi") * (HOUR // MINUTE), F.col("__m_hi") - 1)
        ).alias("__m"),
    )
    minutes = head.unionByName(tail).join(by_minute, ["__k", "__m"])
    # stratum 3: exact events in the two boundary minutes
    edges = (
        a.select(
            *akey,
            "__k",
            F.explode(F.array("__m_lo", "__m_hi")).alias("__m"),
        )
        .join(
            ev.withColumn("__m", F.floor(F.col("__es") / MINUTE)),
            ["__k", "__m"],
        )
        .filter(
            (F.col("__ets") > F.col(anchor_ts))
            & (
                F.col("__ets")
                <= F.col(anchor_ts)
                + F.expr(f"INTERVAL {window_seconds} SECONDS")
            )
        )
        .groupBy(*akey)
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__v").alias("__s"))
    )

    full = hours.select(*akey, "__n", "__s").unionByName(
        minutes.select(*akey, "__n", "__s")
    )
    strata = full.unionByName(edges.select(*akey, "__n", "__s"))
    per_anchor = strata.groupBy(*akey).agg(
        F.sum("__n").alias("__n_all"), F.sum("__s").alias("__s_all")
    )
    # LEFT semantics: anchors with zero window events keep count 0 and
    # a NULL sum, exactly like the naive LEFT join + count/sum.  The
    # join back is NULL-SAFE per column: a NULL payload column (e.g. a
    # NULL anchor id) groups fine in the strata aggregate, and a plain
    # equality join would silently drop its counts to zero.  Contract:
    # anchor ROWS must be unique — duplicate anchors would each carry
    # the merged group's total (the naive groupBy emits one row).
    import functools

    per_anchor = per_anchor.alias("__pa")
    left = anchors.alias("__an")
    cond = functools.reduce(
        lambda x, y: x & y,
        [
            F.col(f"__an.{c}").eqNullSafe(F.col(f"__pa.{c}"))
            for c in anchors.columns
        ],
    )
    return (
        left.join(per_anchor, cond, "left")
        .select(
            *[F.col(f"__an.{c}") for c in anchors.columns],
            F.coalesce(F.col("__pa.__n_all"), F.lit(0))
            .cast("long")
            .alias(count_alias),
            F.col("__pa.__s_all").alias(sum_alias),
        )
    )


def naive_interval_agg(
    anchors: DataFrame,
    events: DataFrame,
    *,
    key: str,
    anchor_ts: str = "s_ts",
    event_ts: str = "f_ts",
    window_seconds: int = 86400,
    sum_col: str = "__cents",
    count_alias: str = "n_follow",
    sum_alias: str = "sum_cents",
) -> DataFrame:
    """The equality + interval pair join with the SAME output contract
    as :func:`trailing_interval_agg` — one row per anchor, exact
    integer count/sum, NULL sum on an empty window.  Strictly cheaper
    than the decomposition when no key can straggle (no ~280-row
    anchor fan-out, one join instead of three strata), which is
    exactly when the adaptive dispatch picks it.

    Contract (shared with :func:`trailing_interval_agg`, ADVICE r11):
    anchor ROWS must be unique.  This groupBy merges duplicate anchor
    rows into ONE output row, while the decomposition's null-safe
    join-back emits one row PER duplicate carrying the merged group's
    totals — so duplicate anchors would make the two branches (and
    hence the adaptive dispatch) diverge on row count."""
    a = anchors.alias("__an")
    e = events.alias("__ev")
    j = a.join(
        e,
        (F.col(f"__an.{key}") == F.col(f"__ev.{key}"))
        & (F.col(f"__ev.{event_ts}") > F.col(f"__an.{anchor_ts}"))
        & (
            F.col(f"__ev.{event_ts}")
            <= F.col(f"__an.{anchor_ts}")
            + F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
        "left",
    )
    return j.groupBy(*[F.col(f"__an.{c}") for c in anchors.columns]).agg(
        F.count(F.col(f"__ev.{event_ts}")).alias(count_alias),
        F.sum(F.col(f"__ev.{sum_col}")).alias(sum_alias),
    )


#: Pair-work dispatch floor: a key routes to the decomposition only
#: when its estimated window-pair count exceeds this.
#:
#: MEASURED with honest forcing (round 11, noop sink — see
#: plans.force_evaluate: ``count()``-forced timings let Catalyst
#: DELETE the join, which is how round 10 concluded "6e10 pairs run
#: in 1.4 s"; they do not).  Real numbers, hot key only, best of 2
#: fresh-JVM reps:
#:
#:   skew1  hot key (~6.2e8 pairs):  naive 126 s   decomposition 3.1 s
#:   skew10 hot key (~6.2e10 pairs): naive >2700 s (killed)  decomp 8.8 s
#:
#: The naive SMJ re-scans its buffered per-key group once per anchor
#: row — a SINGLE task at ~5e6 pairs/s (AQE's skew split cannot cut
#: inside one key's sort group), so naive cost ≈ pairs/5e6 s of
#: straggler wall; the decomposition is ~(2.5 + 1e-5·anchors) s and
#: parallel.  Break-even ≈ 1.5e7 pairs; 2e7 adds slack so keys that
#: would cost the naive plan ≤ ~4 s stay on it (the decomposition's
#: probe + 3-stratum fixed overhead isn't worth less than that).
PAIR_FLOOR = 20_000_000


def _pair_hot_keys(
    anchors: DataFrame,
    events: DataFrame,
    key: str,
    window_seconds: int,
) -> list:
    """Keys whose estimated naive pair count exceeds ``PAIR_FLOOR``.

    pairs_k ≈ anchors_k × events_k × (window / span_k): events are
    ~uniform inside a key's active span, so each anchor's window sees
    ~events_k·window/span_k rows.  Three bounded probes (per-key
    counts on each side + per-key span), all partial-aggregated —
    |keys| exchange rows, like dispatch.hot_keys.  The estimate only
    steers a choice between two bit-identical plans, so a miss costs
    wall time, never correctness.  The result list is bounded: a key
    needs > √PAIR_FLOOR ≈ 4.5k events (or anchors) to qualify, so at
    most total/4.5k keys can appear.

    Short-circuit: even if EVERY row sat on one key, pairs cannot
    exceed |anchors| x |events| - when that product is under the
    floor the probe is skipped entirely (two column-pruned counts),
    so small inputs pay ~nothing for the insurance."""
    from ..session import scoped_persist

    if anchors.count() * events.count() <= PAIR_FLOOR:
        return []
    a_cnt = anchors.groupBy(key).agg(F.count(F.lit(1)).alias("__na"))
    e_stat = events.groupBy(key).agg(
        F.count(F.lit(1)).alias("__ne"),
        (
            _epoch(F.max(F.col("__pets"))) - _epoch(F.min(F.col("__pets")))
        ).alias("__span"),
    )
    est = scoped_persist(
        a_cnt.join(e_stat, key).select(
            F.col(key),
            (
                F.col("__na")
                * F.col("__ne")
                * F.least(
                    F.lit(1.0),
                    F.lit(float(window_seconds))
                    / F.greatest(F.col("__span").cast("double"), F.lit(1.0)),
                )
            ).alias("__pairs"),
        )
    )
    return [
        r[key]
        for r in est.filter(F.col("__pairs") > PAIR_FLOOR).collect()
        if r[key] is not None
    ]


def trailing_interval_agg_adaptive(
    anchors: DataFrame,
    events: DataFrame,
    *,
    key: str,
    anchor_ts: str = "s_ts",
    event_ts: str = "f_ts",
    window_seconds: int = 86400,
    sum_col: str = "__cents",
    count_alias: str = "n_follow",
    sum_alias: str = "sum_cents",
) -> DataFrame:
    """PER-KEY adaptive interval aggregation (VERDICT r10 item 5),
    dispatched on estimated PAIR WORK, not row count: a key routes to
    the hierarchical decomposition when its naive pair count would
    exceed ``PAIR_FLOOR`` (2e7 — the honestly-forced break-even, see
    the constant's docstring: the naive SMJ re-scan is a single-task
    straggler at ~5e6 pairs/s, 126 s on skew1's 6.2e8-pair hot key
    where the decomposition takes 3.1 s); keys below it keep the
    naive equi+range join, whose fixed cost beats the decomposition's
    probe + 3-stratum overhead.  Pair count — not row count — is the
    right dial because the same 3M rows are harmless when spread over
    the key's time span and catastrophic when an anchor-dense window
    multiplies them.

    Keys are disjoint across branches and both plans are bit-identical
    per key (tests/test_intervalagg.py pins decomposed == naive on
    edges and random data), so the dispatch is invisible to
    correctness — q03's oracle SQL is unchanged.  NULL keys stay on
    the naive side (``isin`` cannot route them; an equality join on a
    NULL key matches nothing, which is the correct empty window
    either way).

    Contract (ADVICE r11): anchor ROWS must be unique.  The two
    branches agree on everything EXCEPT duplicate anchor rows — the
    naive groupBy merges them into one output row, the decomposition's
    join-back emits one per duplicate — so a duplicate-anchor caller
    would see branch-dependent row counts only on the nights a key
    runs hot.  q03 satisfies the contract via unique signup event_ids;
    tests/test_intervalagg.py pins the divergence so the contract
    stays documented-and-true rather than silent."""
    kw = dict(
        key=key,
        anchor_ts=anchor_ts,
        event_ts=event_ts,
        window_seconds=window_seconds,
        sum_col=sum_col,
        count_alias=count_alias,
        sum_alias=sum_alias,
    )
    # validate the decomposition's preconditions UP FRONT even though
    # only the hot branch needs them: whether a hot key exists is a
    # property of tonight's data, and a contract violation must fail
    # at plan time every time, not the first time a key runs hot
    if window_seconds % HOUR != 0:
        raise ValueError("window_seconds must be a whole number of hours")
    tz = anchors.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if tz not in _LINEAR_TZS:
        raise ValueError(
            f"trailing_interval_agg_adaptive requires a UTC session "
            f"timeZone (got {tz!r}): the hot-key branch's bucket tiling "
            "needs a linear ntz→epoch map (set "
            "spark.sql.session.timeZone=UTC)"
        )
    hk = _pair_hot_keys(
        anchors.select(key),
        events.select(key, F.col(event_ts).alias("__pets")),
        key,
        window_seconds,
    )
    if not hk:
        return naive_interval_agg(anchors, events, **kw)
    hot_a, cold_a = split_by_keys(anchors, key, hk)
    hot_e, cold_e = split_by_keys(events, key, hk)
    return naive_interval_agg(cold_a, cold_e, **kw).unionByName(
        trailing_interval_agg(hot_a, hot_e, **kw)
    )
