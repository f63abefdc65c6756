"""Skew-safe per-key windows: trailing count/sum RANGE windows and LOCF.

A per-row trailing time-window aggregate (``RANGE BETWEEN -(W-1)
AND CURRENT ROW`` over an epoch column) partitions by key alone, so a
hot key's entire history sorts and evaluates in ONE task — measured
35.3x hot-over-uniform at skew10 for q41 (SKEW_STRESS.json, round 11,
honest forcing; the largest skew ratio this engine has recorded).

:func:`trailing_count_sums_adaptive` dispatches per key between two
bit-identical tiers: the plain per-key window, and for keys past
``RANGE_HOT_MIN_ROWS`` the prefix-bucket decomposition
(:func:`trailing_count_sums_prefix_bucket`), which spreads a key over
buckets sized from its row count instead of one task.

NULL order values stay on the plain window: Spark gives a NULL-ordered
row a frame of the key's other NULL rows only, and the decomposition
cannot bucket them (floor(NULL) is still NULL) — the split keeps them
in a plain per-key window whose partition holds exactly the key's NULL
rows, preserving the frame group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dispatch import hot_keys, per_key, split_by_keys

#: dispatch floor for RANGE-frame windows, from AB_floor_range.json
#: (plain vs prefix-bucket on one key, 30-day span, 24h frame, medians
#: of 3 on a 4-core host): plain wins at 10k rows (0.42 s vs 1.45 s)
#: and 30k (1.27 s vs 1.46 s); prefix wins from 100k (8.49 s vs
#: 2.58 s) and at 300k (86.6 s vs 3.25 s) — the single-task frame
#: grows superlinearly.  The floor sits at the first swept size where
#: prefix wins every rep.
RANGE_HOT_MIN_ROWS = 100_000


def _plain(
    df: DataFrame,
    *,
    key: str,
    order_us: str,
    window_us: int,
    sums: dict[str, Column],
    count_alias: str,
) -> DataFrame:
    """The plain per-key window: frame row count and one sum per
    ``sums`` alias, each cast to long like the prefix tier's columns."""
    w = (
        Window.partitionBy(key)
        .orderBy(order_us)
        .rangeBetween(-(window_us - 1), Window.currentRow)
    )
    return df.select(
        *[F.col(c) for c in df.columns],
        F.count(F.lit(1)).over(w).cast("long").alias(count_alias),
        *[
            F.sum(expr).over(w).cast("long").alias(alias)
            for alias, expr in sums.items()
        ],
    )


# ---------------------------------------------------------------------
# Skew-safe LOCF (last non-null IGNORE NULLS over an unbounded-
# preceding frame) + first-non-null per-key scalar — q115's shape.
# An unbounded frame has no length to bucket by, so the carry is
# EXPLICIT: local LOCF per (key, time-bucket), then one "last
# non-null value" row per (key, bucket) chains through
# a tiny per-key window (|buckets| rows), and rows coalesce their
# local LOCF with the previous bucket's carry.  NULL timestamps all
# fall into the NULL bucket, which the carry chain orders FIRST —
# exactly where the plain window's NULLS-FIRST sort puts those rows.
# ---------------------------------------------------------------------

#: sentinel for ordering NULL timestamps inside comparison structs —
#: paired with a leading is-not-null flag, so its VALUE never decides
#: an ordering between a null and a non-null timestamp
_TS_SENTINEL = "1900-01-01 00:00:00"


def _order_struct(ts: str, tiebreak: str, val: Column) -> Column:
    """Comparison struct replicating (ts ASC NULLS FIRST, tiebreak):
    a leading not-null flag (False < True puts NULL ts first), the
    null-coalesced ts, the tiebreak, and the value payload last."""
    return F.struct(
        F.col(ts).isNotNull().alias("f"),
        F.coalesce(F.col(ts), F.lit(_TS_SENTINEL).cast("timestamp_ntz")).alias(
            "t"
        ),
        F.col(tiebreak).alias("k"),
        val.alias("v"),
    )


def locf_first_skew_safe(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    tiebreak: str,
    val: Column,
    bucket_us: int,
    last_alias: str = "__last",
    first_alias: str = "__first",
) -> DataFrame:
    """Per-row last-non-null ``val`` over (ts, tiebreak) order and the
    per-key first-non-null ``val`` — output-identical to the plain
    IGNORE-NULLS window pair, with the hot key's sort spread over
    |buckets| tasks.  Appends ``last_alias``/``first_alias``."""
    e = df.withColumn("__v", val).withColumn(
        "__b",
        F.floor(
            F.unix_micros(F.col(ts).cast("timestamp")) / F.lit(bucket_us)
        ),
    )
    wb = (
        Window.partitionBy(key, "__b")
        .orderBy(F.col(ts).asc_nulls_first(), tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = e.withColumn("__loc", F.last("__v", ignorenulls=True).over(wb))
    # one row per (key, bucket): the bucket's last non-null value in
    # order — combinable max over the order struct
    summary = e.groupBy(key, "__b").agg(
        F.max(F.when(F.col("__v").isNotNull(), _order_struct(ts, tiebreak, F.col("__v"))))
        .alias("__s")
    )
    wc = Window.partitionBy(key).orderBy(F.col("__b").asc_nulls_first())
    run = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carry = summary.select(
        key,
        "__b",
        F.lag(
            F.last(F.col("__s.v"), ignorenulls=True).over(run)
        ).over(wc).alias("__carry"),
    )
    # per-key first non-null value — combinable min over the same struct
    firsts = e.groupBy(key).agg(
        F.min(F.when(F.col("__v").isNotNull(), _order_struct(ts, tiebreak, F.col("__v"))))
        .getField("v")
        .alias(first_alias)
    )
    # NULL-SAFE bucket join: the NULL-ts bucket's rows must still meet
    # their carry row (plain equality on a NULL __b matches nothing);
    # the key itself is non-null in the hot branch (isin-routed)
    carry = carry.withColumnRenamed(key, "__ck").withColumnRenamed(
        "__b", "__cb"
    )
    # carry is |hot keys x buckets| rows and firsts |hot keys| rows —
    # broadcast both so the event stream never re-shuffles for the
    # join-backs (the window's (key, bucket) exchange stays the only
    # full-data shuffle)
    return (
        e.join(
            F.broadcast(carry),
            (F.col(key) == F.col("__ck"))
            & F.col("__b").eqNullSafe(F.col("__cb")),
        )
        .join(F.broadcast(firsts), key)
        .withColumn(last_alias, F.coalesce("__loc", "__carry"))
        .drop("__v", "__b", "__loc", "__carry", "__ck", "__cb")
    )


def locf_first_adaptive(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    tiebreak: str,
    val: Column,
    bucket_us: int,
    last_alias: str = "__last",
    first_alias: str = "__first",
    max_rows: int | None = None,
) -> DataFrame:
    """PER-KEY adaptive dispatch for the LOCF/first pair: hot keys run
    the bucket-carry pre-split, everything else keeps the plain
    two-window form (one exchange, strictly cheaper when no key can
    straggle).  Output-identical per key; oracle SQL unchanged.
    ``max_rows`` bounds ``df``'s rows (see ``dispatch.hot_keys``)."""
    from .sessionize import HOT_MIN_ROWS

    kw = dict(
        key=key, ts=ts, tiebreak=tiebreak, val=val, bucket_us=bucket_us,
        last_alias=last_alias, first_alias=first_alias,
    )

    def plain(d: DataFrame) -> DataFrame:
        running = (
            Window.partitionBy(key)
            .orderBy(F.col(ts).asc_nulls_first(), tiebreak)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        full = (
            Window.partitionBy(key)
            .orderBy(F.col(ts).asc_nulls_first(), tiebreak)
            .rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        return d.select(
            *[F.col(c) for c in d.columns],
            F.last(val, ignorenulls=True).over(running).alias(last_alias),
            F.first(val, ignorenulls=True).over(full).alias(first_alias),
        )

    return per_key(
        df,
        key,
        plain,
        lambda d: locf_first_skew_safe(d, **kw).select(
            *[F.col(c) for c in df.columns], last_alias, first_alias
        ),
        HOT_MIN_ROWS,
        max_rows,
    )


# ---------------------------------------------------------------------
# PREFIX-BUCKET decomposition — the hot-key tier for COMBINABLE
# trailing range windows (count + exact-integer sums), q41's shape.
#
# For combinable aggregates the frame does not need to be
# materialized inside one partition at all; this is the bucketed
# sliding-window aggregation idea from the stream-processing
# literature (pane/bucket decompositions a la Li et al. "No pane, no
# gain", SIGMOD Record 2005), done here set-wise:
#
#   pick ANY bucket width G (no divisibility constraint) and let
#   g = floor(t/G), gq = floor((t-W)/G), P(x) = per-key prefix sum of
#   bucket totals up to bucket x.  The trailing frame (t-W, t] splits
#   exactly into
#       tail:  events in bucket g with ts <= t          (running agg)
#       full:  buckets gq+1 .. g-1                      (P(g-1) - P(gq))
#       head:  events in bucket gq with ts > t-W        (T(gq) - run@(t-W))
#   and with T(gq) = P(gq) - P(gq-1) the total telescopes to
#       result = tail - head + P(g-1) - P(gq-1)
#   which also holds verbatim when gq == g (the P terms cancel and
#   tail - head is exactly the in-bucket frame).
#
# Execution: every row is emitted twice — OWN at position t in bucket
# g (reads `tail` from a per-(key, bucket) running RANGE window) and
# QUERY at position t-W in bucket gq (reads `head` from the SAME
# window pass; RANGE frames make ties exact on both sides).  The two
# halves meet again in an equi-join on a caller-named unique row id,
# and two BROADCAST joins against the (tiny, persisted) per-key dense
# bucket-prefix table supply the P terms.  Parallelism is key x
# span/G with G CHOSEN per key from the probe (target rows/bucket),
# so it scales with the key's row count instead of being pinned to
# one task.
#
# Exactness: every stratum sums exact integers, so any execution
# order gives the bit-identical answer; NULL-iff-empty sum semantics
# are reproduced by decomposing a non-null-count alongside each sum.
# ---------------------------------------------------------------------

#: per-(key, bucket) row target when choosing the prefix tier's bucket
#: width G — small enough that one bucket's sort is trivially cheap,
#: large enough that the dense prefix spine stays tiny
PREFIX_TARGET_BUCKET_ROWS = 25_000

#: bounds on buckets-per-key: the floor keeps at least one wave of
#: parallelism even for barely-hot keys; the cap bounds the dense
#: spine (and thus the broadcast prefix table) at any row count —
#: past it, rows/bucket grow again but with 100k-way parallelism
PREFIX_MIN_BUCKETS = 32
PREFIX_MAX_BUCKETS = 100_000


def prefix_bucket_width(rows: int, span_us: int) -> int:
    """The prefix tier's bucket width G for a key of ``rows`` rows
    spanning ``span_us``: about ``PREFIX_TARGET_BUCKET_ROWS`` rows per
    bucket, within the buckets-per-key bounds."""
    buckets = min(
        PREFIX_MAX_BUCKETS,
        max(PREFIX_MIN_BUCKETS, rows // PREFIX_TARGET_BUCKET_ROWS),
    )
    return max(1, int(span_us // buckets))

_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "long", "integer", "short", "byte")


def trailing_count_sums_prefix_bucket(
    df: DataFrame,
    *,
    key: str,
    order_us: str,
    window_us: int,
    row_id: str,
    sums: dict[str, Column],
    count_alias: str,
    bucket_widths: dict,
) -> DataFrame:
    """Prefix-bucket trailing window (see block comment above): appends
    ``count_alias`` (frame row count, long) and one exact-integer sum
    column per ``sums`` alias (NULL iff the frame holds no non-null
    value, like the plain window's SUM).

    Contract (enforced loudly where cheap, documented otherwise):
    ``order_us`` and ``key`` non-NULL (the adaptive dispatcher routes
    NULL rows to the plain tier); ``row_id`` unique and non-NULL — the
    product's ingestion contract for event ids, same class as the
    interval decomposition's anchor-uniqueness contract; every sum
    expression integer-typed (exact addition is what makes the
    decomposition bit-identical under any execution order — a double
    sum would diverge by association order); ``bucket_widths`` maps
    every distinct key value in ``df`` to its bucket width in µs, or
    is a single int applied to ALL keys (the forced-decomposition
    path q208 registers so the driver's oracle exercises this tier —
    the gate fixtures are uniform, so the adaptive dispatch alone
    would never route a gate row here)."""
    from ..session import scoped_persist

    if window_us < 1:
        raise ValueError("window_us must be >= 1")
    base = df
    v_cols = {}
    for alias, expr in sums.items():
        vc = f"__v_{alias}"
        base = base.withColumn(vc, expr)
        v_cols[alias] = vc
        dt = dict(base.dtypes)[vc]
        if dt not in _INT_TYPES:
            raise ValueError(
                f"prefix-bucket sums must be exact integer types for "
                f"bit-identical decomposition; {alias!r} is {dt} — "
                "aggregate cents/counts and divide once at the end"
            )
    # per-key bucket width as a literal map (the hot-key list is
    # pigeonhole-bounded, so the plan-side literal stays small), or
    # one global literal when a single int is given
    if isinstance(bucket_widths, int):
        gw = F.lit(int(bucket_widths))
    else:
        pairs = []
        for k, g in bucket_widths.items():
            pairs += [F.lit(k), F.lit(int(g))]
        gw = F.element_at(F.create_map(*pairs), F.col(key))
    # floor(long/long) via double division is exact here: order_us is
    # epoch µs < 2^53 (exactly representable), and the quotient's ULP
    # (~0.38/G) is strictly below the 1/G step a 1 µs move causes, so
    # no boundary can misround
    base = scoped_persist(
        base.withColumn("__g", F.floor(F.col(order_us) / gw))
        .withColumn("__gq", F.floor((F.col(order_us) - F.lit(window_us)) / gw))
    )

    own = base.withColumn("__p", F.col(order_us)).withColumn("__own", F.lit(True))
    qry = base.select(
        key,
        row_id,
        *v_cols.values(),
        (F.col(order_us) - F.lit(window_us)).alias("__p"),
        F.col("__gq").alias("__g"),
        F.lit(False).alias("__own"),
    )
    both = own.unionByName(qry, allowMissingColumns=True)
    wp = (
        Window.partitionBy(key, "__g")
        .orderBy("__p")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    measures = [F.sum(F.when(F.col("__own"), 1)).over(wp).alias("__r_c")]
    for alias, vc in v_cols.items():
        measures += [
            F.sum(F.when(F.col("__own") & F.col(vc).isNotNull(), 1))
            .over(wp)
            .alias(f"__r_nn_{alias}"),
            F.sum(F.when(F.col("__own"), F.col(vc))).over(wp).alias(f"__r_s_{alias}"),
        ]
    ran = both.select("*", *measures)
    own_out = ran.filter(F.col("__own")).drop("__own", "__p")
    qry_out = ran.filter(~F.col("__own")).select(
        F.col(row_id).alias("__qid"),
        F.col("__r_c").alias("__h_c"),
        *[
            c
            for alias in sums
            for c in (
                F.col(f"__r_nn_{alias}").alias(f"__h_nn_{alias}"),
                F.col(f"__r_s_{alias}").alias(f"__h_s_{alias}"),
            )
        ],
    )

    # dense per-key bucket prefix table: totals on the sparse buckets,
    # right-joined onto the key's full min..max bucket spine (bounded
    # by PREFIX_MAX_BUCKETS via the G choice), then one running sum
    # over the tiny spine — persisted because TWO joins consume it
    tot = base.groupBy(key, "__g").agg(
        F.count(F.lit(1)).alias("__t_c"),
        *[
            a
            for alias, vc in v_cols.items()
            for a in (
                F.count(vc).alias(f"__t_nn_{alias}"),
                F.sum(vc).alias(f"__t_s_{alias}"),
            )
        ],
    )
    spine = (
        base.groupBy(key)
        .agg(F.min("__g").alias("__glo"), F.max("__g").alias("__ghi"))
        .select(key, F.explode(F.sequence("__glo", "__ghi")).alias("__g"))
    )
    wk = (
        Window.partitionBy(key)
        .orderBy("__g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = scoped_persist(
        spine.join(tot, [key, "__g"], "left").select(
            F.col(key).alias("__pk"),
            F.col("__g").alias("__pg"),
            F.sum(F.coalesce("__t_c", F.lit(0))).over(wk).alias("__p_c"),
            *[
                a
                for alias in sums
                for a in (
                    F.sum(F.coalesce(f"__t_nn_{alias}", F.lit(0)))
                    .over(wk)
                    .alias(f"__p_nn_{alias}"),
                    F.sum(F.coalesce(f"__t_s_{alias}", F.lit(0)))
                    .over(wk)
                    .alias(f"__p_s_{alias}"),
                )
            ],
        )
    )

    ph = prefix.select(
        F.col("__pk"),
        F.col("__pg"),
        F.col("__p_c").alias("__hi_c"),
        *[
            a
            for alias in sums
            for a in (
                F.col(f"__p_nn_{alias}").alias(f"__hi_nn_{alias}"),
                F.col(f"__p_s_{alias}").alias(f"__hi_s_{alias}"),
            )
        ],
    )
    pl = prefix.select(
        F.col("__pk").alias("__lk"),
        F.col("__pg").alias("__lg"),
        F.col("__p_c").alias("__lo_c"),
        *[
            a
            for alias in sums
            for a in (
                F.col(f"__p_nn_{alias}").alias(f"__lo_nn_{alias}"),
                F.col(f"__p_s_{alias}").alias(f"__lo_s_{alias}"),
            )
        ],
    )
    joined = (
        # Deliberately sort-merge, NOT shuffle-hash: a SHUFFLE_HASH
        # hint was tried and REJECTED — at sf100's 29.9M-row hot key
        # the per-partition hash relation exceeds the executor memory
        # slice ("Can't acquire 268435456 bytes to build hash
        # relation"), and at 100 TB a memory-bounded build side only
        # gets worse.  SMJ spills; the sorts are the price of a join
        # that cannot OOM.
        own_out.join(qry_out, F.col(row_id) == F.col("__qid"))
        .join(
            F.broadcast(ph),
            (F.col(key) == F.col("__pk")) & (F.col("__g") - 1 == F.col("__pg")),
            "left",
        )
        .join(
            F.broadcast(pl),
            (F.col(key) == F.col("__lk")) & (F.col("__gq") - 1 == F.col("__lg")),
            "left",
        )
    )

    def _z(c: str) -> Column:
        return F.coalesce(F.col(c), F.lit(0))

    out_cols = [F.col(c) for c in df.columns]
    out_cols.append(
        (_z("__r_c") - _z("__h_c") + _z("__hi_c") - _z("__lo_c"))
        .cast("long")
        .alias(count_alias)
    )
    for alias in sums:
        nn = (
            _z(f"__r_nn_{alias}")
            - _z(f"__h_nn_{alias}")
            + _z(f"__hi_nn_{alias}")
            - _z(f"__lo_nn_{alias}")
        )
        s = (
            _z(f"__r_s_{alias}")
            - _z(f"__h_s_{alias}")
            + _z(f"__hi_s_{alias}")
            - _z(f"__lo_s_{alias}")
        )
        out_cols.append(F.when(nn > 0, s).cast("long").alias(alias))
    return joined.select(*out_cols)


def trailing_count_sums_adaptive(
    df: DataFrame,
    *,
    key: str,
    order_us: str,
    window_us: int,
    row_id: str,
    sums: dict[str, Column],
    count_alias: str,
    max_rows: int | None = None,
) -> DataFrame:
    """TWO-tier per-key dispatch for combinable (count + exact-integer-
    sum) trailing range windows:

    * keys past ``RANGE_HOT_MIN_ROWS`` (probed by ``dispatch.hot_keys``,
      which also bounds them to ``partitions / HOT_TASK_FACTOR``, and
      which runs no probe when ``max_rows``, an upper bound on
      ``df``'s rows, is at or below the floor): the
      prefix-bucket decomposition, its bucket width chosen per key from
      the probed rows and span, at most ``PREFIX_MAX_BUCKETS`` buckets
      each — so the broadcast prefix spine stays bounded;
    * every other key, NULL keys, and the NULL-ordered rows of hot keys
      (see the module docstring): the plain per-key window — one
      exchange, cheapest when nothing straggles.

    Both tiers are bit-identical per row (exact integer sums;
    tests/test_rangewindow_prefix.py pins parity on random, tie-heavy,
    NULL-bearing and bucket-edge data), and each key's ordered rows
    meet in one tier, so the dispatch is invisible to correctness and
    the oracle SQL is unchanged.  ``row_id`` must be unique non-NULL
    (the ingestion contract for event ids) — it carries the prefix
    tier's head/tail join-back."""
    kw = dict(
        key=key, order_us=order_us, window_us=window_us, sums=sums,
        count_alias=count_alias,
    )
    stats = hot_keys(
        df, key, RANGE_HOT_MIN_ROWS, order_us=order_us, max_rows=max_rows
    )
    if not stats:
        return _plain(df, **kw)
    widths = {k: prefix_bucket_width(rows, span) for k, rows, span in stats}
    hot, cold = split_by_keys(df, key, list(widths))
    ordered = F.col(order_us).isNotNull()
    return _plain(cold.unionByName(hot.filter(~ordered)), **kw).unionByName(
        trailing_count_sums_prefix_bucket(
            hot.filter(ordered), row_id=row_id, bucket_widths=widths, **kw
        )
    )
