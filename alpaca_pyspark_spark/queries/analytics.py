"""Behavioral / warehouse analytics coverage (q66+): outer-join
aggregate-of-aggregate distributions, interval coalescing, staged
funnels, snapshot diffing, correlated-average joins, argmax
aggregates, profiling histograms, and weighted reproducible sampling.

Every query is oracle-exact (COVERAGE.md "Exactness strategy"):
integer cents / integer µs accumulations, packed-integer argmax
ordering keys, explicit ROWS window frames (DuckDB's default RANGE
frame differs on ties), and a fixed float-op tail (at most one
division).

Reference parity notes: the reference engine (tnixon/alpaca-pyspark)
delegates all post-scan relational work to Spark
(/root/reference/README.md:96-117 "use the DataFrame API"); these
queries pin down that delegated surface over the driver's synthetic
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cents
from ..operators.dispatch import table_rows
from ..operators.topk import top_k_per_group
from ..session import scoped_persist
from ..tables import load


# ---------------------------------------------------------------- q66
def q66_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT outer
    join customer←orders so zero-order customers survive, count per
    customer, then re-aggregate the counts into a histogram.  The
    join and the first aggregate share the ``custkey`` hash
    partitioning (one shuffle each side, no re-exchange between join
    and count); the second aggregate's input is ≤ |distinct counts|
    rows, so its shuffle is negligible at any scale."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q66_SQL = """
WITH counts AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM counts
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------- q67
def q67_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (merge overlapping ranges): each event
    spans [ts, ts+5min]; per user, merge transitively-overlapping
    spans into islands and report each island's extent.  The classic
    running-max-end window: a row starts a new island iff its start
    exceeds the max end of ALL preceding rows (not just the previous
    row — earlier long intervals can bridge).  Integer-µs arithmetic
    throughout; explicit ROWS frames (DuckDB's ORDER BY default is
    RANGE, which merges ties differently).  One shuffle on user_id
    shared by both windows and the final aggregate."""
    e = load(spark, sf_dir, "events")
    from ..operators.timeseries import _micros

    dur = 300_000_000  # 5 min in µs
    s = _micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max_end = F.max(s + F.lit(dur)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (s > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = e.select(
        "user_id",
        s.alias("__s"),
        (s + F.lit(dur)).alias("__e"),
        island.cast("long").alias("island"),
    )
    return spans.groupBy("user_id", "island").agg(
        F.timestamp_micros(F.min("__s")).cast("timestamp_ntz").alias("start_ts"),
        F.timestamp_micros(F.max("__e")).cast("timestamp_ntz").alias("end_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


_Q67_SQL = """
WITH spans AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e,
         max(epoch_us(ts) + 300000000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max_end
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN prev_max_end IS NULL OR s > prev_max_end
              THEN 1 ELSE 0 END AS new_island,
         row_number() OVER (PARTITION BY user_id ORDER BY s, event_id) AS rn
  FROM spans
), islands AS (
  SELECT user_id, s, e,
         CAST(sum(new_island) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island,
       make_timestamp(min(s)) AS start_ts,
       make_timestamp(max(e)) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, island
"""


# ---------------------------------------------------------------- q68
def q68_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged conversion funnel (view → click → purchase, strictly
    ordered in time per user): stage N's timestamp is the earliest
    qualifying event AFTER stage N-1's.

    Three chained COMBINABLE aggregations with N-to-1 join-backs —
    round 11 rework: the original three whole-partition min-windows
    buffered the hot key's entire history on ONE task three times
    (honest forcing measured 2.68x hot/uniform at sf10,
    SKEW_STRESS.json — the count-forced rows had hidden it).  Plain
    min-aggregates take map-side partials (skew-immune), each stage's
    event stream is pre-filtered to its type (~3x smaller), and the
    join-backs are N-to-1 equi joins AQE's skew split can cut —
    nothing buffers a whole key anywhere.  Output identical: stage
    counts count users whose stage-N min exists, and a user without
    stage N-1 cannot have stage N in either formulation."""
    e = load(spark, sf_dir, "events")
    ts, et = F.col("ts"), F.col("event_type")
    t1 = (
        e.filter(et == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    t2 = (
        e.filter(et == "click")
        .join(t1, "user_id")
        .filter(ts > F.col("__t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t2"))
    )
    t3 = (
        e.filter(et == "purchase")
        .join(t2, "user_id")
        .filter(ts > F.col("__t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t3"))
    )
    per_user = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    return per_user.agg(
        F.count("__t1").alias("n_view"),
        F.count("__t2").alias("n_click_after_view"),
        F.count("__t3").alias("n_purchase_after_click"),
    )


_Q68_SQL = """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT user_id, ts, event_type, t1,
         min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT DISTINCT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM s2
)
SELECT CAST(count(t1) AS BIGINT) AS n_view,
       CAST(count(t2) AS BIGINT) AS n_click_after_view,
       CAST(count(t3) AS BIGINT) AS n_purchase_after_click
FROM s3
"""


# ---------------------------------------------------------------- q69
def q69_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diffing (warehouse CDC reconciliation): FULL OUTER
    join two keyed snapshots and classify every key as
    added/removed/changed/unchanged, with exact integer-cent deltas.
    The two snapshots are deterministic slices of ``orders`` (key
    mod-filters; snapshot B bumps every 7th key's price).  Both sides
    hash-partition on the join key; the classify+aggregate is one
    more small shuffle."""
    o = load(spark, sf_dir, "orders")
    total_cents = cents(F.col("o_totalprice"))
    a = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", total_cents.alias("cents_a")
    )
    b = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        (
            total_cents
            + F.when(F.col("o_orderkey") % 7 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("cents_b"),
    )
    diff = a.join(b, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("cents_a").isNull(), F.lit("added"))
        .when(F.col("cents_b").isNull(), F.lit("removed"))
        .when(F.col("cents_a") != F.col("cents_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("cents_b"), F.lit(0)) - F.coalesce(
        F.col("cents_a"), F.lit(0)
    )
    return (
        diff.select(change.alias("change"), delta.alias("__d"))
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            (F.sum("__d") / 100.0).alias("net_delta"),
        )
    )


_Q69_SQL = """
WITH a AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents_a
  FROM orders WHERE o_orderkey % 3 <> 0
), b AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS cents_b
  FROM orders WHERE o_orderkey % 5 <> 0
), diff AS (
  SELECT CASE WHEN a.cents_a IS NULL THEN 'added'
              WHEN b.cents_b IS NULL THEN 'removed'
              WHEN a.cents_a <> b.cents_b THEN 'changed'
              ELSE 'unchanged' END AS change,
         COALESCE(b.cents_b, 0) - COALESCE(a.cents_a, 0) AS d
  FROM a FULL OUTER JOIN b USING (o_orderkey)
)
SELECT change, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(d) AS DOUBLE) / 100.0 AS net_delta
FROM diff
GROUP BY change
"""


# ---------------------------------------------------------------- q70
def q70_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity order revenue): for one brand's
    parts, sum revenue of lineitems whose quantity is below 20% of
    that part's average quantity.  The correlated-average subquery
    becomes a grouped aggregate joined back; both the filtered part
    list and the per-part stats are tiny → both BROADCAST, so the
    lineitem scan never shuffles.  The avg comparison is done in
    integers (qty·5·cnt < Σqty — quantities are integer-valued), so
    no float compare; ONE final division by 7."""
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    price_cents = cents(F.col("l_extendedprice"))
    lip = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    ).select("l_partkey", qty.alias("__q"), price_cents.alias("__c"))
    stats = lip.groupBy("l_partkey").agg(
        F.sum("__q").alias("__sq"), F.count(F.lit(1)).alias("__n")
    )
    small = lip.join(
        F.broadcast(stats.withColumnRenamed("l_partkey", "__pk")),
        F.col("l_partkey") == F.col("__pk"),
    ).filter(F.col("__q") * 5 * F.col("__n") < F.col("__sq"))
    return small.agg(
        (F.sum("__c") / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


_Q70_SQL = """
WITH lip AS (
  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#23'
), stats AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS sq,
         CAST(count(*) AS BIGINT) AS n
  FROM lip GROUP BY l_partkey
)
SELECT CAST(sum(lip.c) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small
FROM lip JOIN stats ON lip.l_partkey = stats.l_partkey
WHERE lip.q * 5 * stats.n < stats.sq
"""


# ---------------------------------------------------------------- q71
def q71_argmax_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY / ARG_MAX surface: each user's highest-value event.
    Ties on value are broken by event_id via a lexicographic ``max``
    over ``struct(cents, event_id)`` — a total order with NO domain
    bound on either key (an earlier packed form, cents·10^10 + id,
    silently corrupted the argmax once event_id ≥ 10^10 — a count a
    100 TB event log exceeds); DuckDB's arg_max can't order by a
    struct, but plain ``max`` of a struct orders lexicographically on
    both engines.  Single partial-aggregatable shuffle (max combines
    map-side)."""
    # argmax NULL contract: a NULL value cannot be a "highest-value
    # event" and struct-max NULL-field ordering is engine-specific —
    # valued events only on BOTH sides (n_events counts them)
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    value_cents = cents(F.col("value"))
    return (
        e.select(
            "user_id",
            F.struct(
                value_cents.alias("c"), F.col("event_id").alias("id")
            ).alias("__s"),
        )
        .groupBy("user_id")
        .agg(F.max("__s").alias("__m"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("__m.id").alias("top_event_id"),
            (F.col("__m.c") / 100.0).alias("top_value"),
            "n_events",
        )
    )


_Q71_SQL = """
WITH M AS (
  SELECT user_id,
         max({'c': CAST(round(value * 100) AS BIGINT), 'id': event_id}) AS m,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, m.id AS top_event_id,
       CAST(m.c AS DOUBLE) / 100.0 AS top_value, n_events
FROM M
"""


# ---------------------------------------------------------------- q72
def q72_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling histogram: fixed-width value bins (width $25) with
    per-bin count, total, extrema, and share of rows.  The bin is
    computed in integer cents (``cents div 2500``) so bucket edges
    are exact; the share is one windowed grand total and one
    division.  Bin + aggregate is one shuffle; the share window runs
    on |bins| rows."""
    e = load(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    binned = e.select(
        (value_cents / F.lit(2500)).cast("bigint").alias("bin"),
        value_cents.alias("__c"),
        F.col("value"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("__c") / 100.0).alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    share = (
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy()).cast("double")
    )
    return per_bin.withColumn("share", share)


_Q72_SQL = """
WITH per_bin AS (
  SELECT CAST(round(value * 100) AS BIGINT) // 2500 AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value,
         min(value) AS min_value,
         max(value) AS max_value
  FROM events
  GROUP BY 1
)
SELECT bin, n, total_value, min_value, max_value,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS share
FROM per_bin
"""


# ---------------------------------------------------------------- q73
def q73_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted reproducible sampling: keep each document with
    probability n_chars/1000 (capped at 0.5) — longer docs are more
    likely to survive the mix — decided by the Lehmer hash of doc_id
    (q37's RNG-free machinery, now with a per-row threshold).  Pure
    integer arithmetic; the identical expression runs in the oracle,
    so the kept set matches exactly.  No shuffle at all: a scan-side
    filter that Catalyst keeps in whole-stage codegen."""
    from ..operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(500))
    return weighted_sample(docs, id_col="doc_id", weight_promille=w).select(
        "doc_id", "source", "n_chars"
    )


_Q73_SQL = """
SELECT doc_id, source, n_chars
FROM documents
WHERE ((((doc_id % 2147483647) * 48271) % 2147483647) * 16807) % 2147483647
      * 1000
      < least(n_chars, 500) * 2147483647
"""


# ---------------------------------------------------------------- q74
def q74_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted per (cohort, day-offset) of later activity.

    Round-11 rework (honest forcing measured the old min-window form
    at 1.96x/1.60x hot-over-uniform — the window buffered the hot
    key's full event history on one task): DISTINCT (user, day) runs
    FIRST, so map-side partial aggregation collapses a 3M-row hot key
    to its ≤|days| distinct rows before anything per-user happens;
    the cohort min and the join-back then work on the tiny per-user-
    day table.  Same output set, oracle unchanged."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("DAY", F.col("ts")).cast("date")
    days = e.select("user_id", day.alias("__day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("__day").alias("cohort_day"))
    per_user_day = days.join(cohort, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff("__day", "cohort_day").alias("day_offset"),
    )
    return per_user_day.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_Q74_SQL = """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), c AS (
  SELECT user_id, day,
         min(day) OVER (PARTITION BY user_id) AS cohort_day
  FROM d
), per_user AS (
  SELECT DISTINCT user_id, cohort_day,
         date_diff('day', cohort_day, day) AS day_offset
  FROM c
)
SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM per_user
GROUP BY cohort_day, day_offset
"""


# ---------------------------------------------------------------- q75
def q75_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregate: 2-hour windows every hour —
    each event lands in width/slide = 2 overlapping windows.  Native
    ``F.window(slide)`` (the same operator Structured Streaming uses);
    the oracle reproduces Spark's slide-grid assignment with a 2-row
    unnest.  Exact integer cents; the window fan-out is an Expand
    (map-side), so the only shuffle is the aggregate itself."""
    e = load(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    win = F.window("ts", "2 hours", "1 hour")
    return (
        e.select(win.alias("__w"), F.col("event_type"), value_cents.alias("__c"))
        .groupBy(
            F.col("__w.start").alias("win_start"),
            F.col("__w.end").alias("win_end"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("__c") / 100.0).alias("total_value"),
        )
    )


_Q75_SQL = """
WITH fanned AS (
  SELECT date_trunc('hour', e.ts) - i.i * INTERVAL 1 HOUR AS win_start,
         date_trunc('hour', e.ts) - i.i * INTERVAL 1 HOUR
           + INTERVAL 2 HOUR AS win_end,
         e.event_type,
         CAST(round(e.value * 100) AS BIGINT) AS c
  FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS i) i
)
SELECT CAST(win_start AS TIMESTAMP) AS win_start,
       CAST(win_end AS TIMESTAMP) AS win_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS DOUBLE) / 100.0 AS total_value
FROM fanned
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- q76
def q76_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact EWMA (α = 1/2) of each user's purchase series: the
    recurrence eₙ = ½xₙ + ½eₙ₋₁ seeded with x₀, evaluated as a
    sequential fold over the ts-sorted value array — with α a power
    of two every step is exact IEEE arithmetic, and DuckDB's
    seedless ``list_reduce`` (first element = initial accumulator)
    folds the identical order, so the doubles match bit-for-bit.
    One shuffle (the per-user collect); series length is bounded by
    per-key activity, not corpus size."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ordered = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("__s")
        )
        .select(
            "user_id",
            F.transform("__s", lambda s: s["value"]).alias("__vals"),
        )
    )
    fold = F.aggregate(
        F.slice("__vals", 2, F.greatest(F.size("__vals") - 1, F.lit(0))),
        F.element_at("__vals", 1),
        lambda acc, x: x * F.lit(0.5) + acc * F.lit(0.5),
    )
    return ordered.select(
        "user_id",
        F.size("__vals").alias("n_purchases"),
        fold.alias("ewma_value"),
    )


_Q76_SQL = """
WITH s AS (
  SELECT user_id,
         list(value ORDER BY ts, event_id) AS vals
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INTEGER) AS n_purchases,
       list_reduce(vals, (acc, x) -> x * 0.5 + acc * 0.5) AS ewma_value
FROM s
"""


# --------------------------------------------------------------- q105
def q105_lambda_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture serving query: daily per-type activity
    where history (before Jan 28) is answered from a PRE-AGGREGATED
    daily rollup — the batch layer, which at 100 TB is a materialized
    table ~10^6x smaller than raw — and only the hot tail (Jan 28 on)
    aggregates raw events.  The two branches meet in a unionByName of
    identical shapes; the half-open boundary (< vs >=) makes double
    counting impossible by construction, and the oracle — ONE direct
    aggregate over everything — proves the seam is exact.

    Exactness: counts and integer-cent sums only (order-independent
    merges), so serving from partials is bit-identical to rescanning
    raw history.  The rollup branch re-aggregating its partials is
    the same merge the q30/q46/q77 cascades pin down."""
    cutoff = F.lit("2024-01-28").cast("timestamp")
    e = load(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    day = F.date_trunc("DAY", F.col("ts"))
    # batch layer: the pre-aggregated daily rollup (materialized
    # upstream in a real deployment; built inline here so the query is
    # self-contained)
    rollup = (
        e.groupBy(day.alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_cents).alias("sum_cents"))
        .filter(F.col("day") < cutoff)
    )
    # speed layer: raw tail
    tail = (
        e.filter(F.col("ts") >= cutoff)
        .groupBy(day.alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_cents).alias("sum_cents"))
    )
    return (
        rollup.unionByName(tail)
        .select(
            "day",
            "event_type",
            "n",
            (F.col("sum_cents") / 100.0).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


_Q105_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------- q107
def q107_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: sessionize (30-min gap, q14's islands),
    take each session's first three event types in (ts, event_id)
    total order, and count the top-20 opening paths — the
    click-stream sequence analysis behind funnel design.

    Runs on the SKEW-ADAPTIVE sessionizer (``operators/
    sessionize.py``): the events footer row count, then (only when
    that count could hold a hot key) a max-key-count probe, picks the
    original single-exchange shape when no key can straggle, or the
    two-level time-bucket pre-split when one can — there the opening
    slice is merged island-wise with per-island state capped at 3
    structs, so a 3M-event hot session costs 3 structs per bucket
    instead of one task collecting all 3M rows (the 3.82x sf10 straggler
    SKEW_STRESS.json measured on the single-exchange shape; 0.93x
    with the pre-split).  The path histogram exchange carries
    |distinct paths| rows and top-20 is TakeOrdered."""
    from ..operators.sessionize import session_openings_adaptive

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    sessions = session_openings_adaptive(
        e,
        key="user_id",
        ts="ts",
        gap="30 minutes",
        order_extra=("event_id",),
        head_cols=("event_id", "event_type"),
        head_k=3,
        max_rows=table_rows(sf_dir, "events"),
    )
    paths = sessions.select(
        F.array_join(
            F.transform(F.col("__head"), lambda r: r["event_type"]), ">"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


_Q107_SQL = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), y AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM x
), z AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM y
), p AS (
  SELECT user_id, sid,
         -- coalesce: an all-NULL-type opening is the EMPTY path on
         -- both engines (Spark's array_join returns '', DuckDB NULL)
         coalesce(
           array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>'),
           '') AS path
  FROM z GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


# --------------------------------------------------------------- q109
def q109_trailing_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding exact distinct: daily active users (DAU) and trailing
    7-day active users (WAU) per day, plus the stickiness ratio.

    Scale shape: activity first collapses to DISTINCT (user, day) —
    the only pass over raw events — then each activity day fans out
    to the ≤7 report days it supports (a bounded explode of the
    ALREADY-distinct pairs, not the event stream), and the per-day
    distinct runs on that.  Report days are clipped to the observed
    range so edge windows are partial by construction, same on both
    engines."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("DAY", F.col("ts")).alias("d")
    ).distinct()
    max_day = ud.agg(F.max("d").alias("__mx"))
    wau = (
        ud.select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.col("d") + F.make_dt_interval(days=i),
                )
            ).alias("day"),
        )
        .crossJoin(F.broadcast(max_day))
        .filter(F.col("day") <= F.col("__mx"))
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
        )
        .orderBy("day")
    )


_Q109_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
  FROM events
), mx AS (SELECT max(d) AS mxd FROM ud),
w AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM (
    SELECT ud.user_id, ud.d + INTERVAL (o.o) DAY AS day
    FROM ud CROSS JOIN (SELECT unnest(range(7)) AS o) o
  ) f, mx
  WHERE f.day <= mx.mxd
  GROUP BY day
), a AS (
  SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY 1
)
SELECT a.day, a.dau, w.wau,
       CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
FROM a JOIN w USING (day)
ORDER BY day
"""


# --------------------------------------------------------------- q108
def q108_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a v1 snapshot (orders before 2000,
    written without the priority column) unions a v2 snapshot (2000+,
    with it) via ``unionByName(allowMissingColumns=True)`` — the
    missing column back-fills NULL, the pattern for reading a table
    whose schema grew mid-history.  Downstream aggregation treats the
    NULL generation as its own bucket, proving no rows are lost or
    misattributed across the seam (oracle: explicit UNION ALL with a
    NULL literal)."""
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")
    v1 = o.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    total_cents = cents(F.col("o_totalprice"))
    return (
        v1.unionByName(v2, allowMissingColumns=True)
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-schema>")).alias(
                "priority"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(total_cents) / 100.0).alias("total_value"),
        )
        .orderBy("o_year", "priority")
    )


_Q108_SQL = """
WITH unified AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
  UNION ALL
  SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       COALESCE(o_orderpriority, '<pre-schema>') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM unified
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------- q115
def q115_ignore_nulls_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window breadth: per user-ordered event stream,
    carry forward the last purchase value (last_value IGNORE NULLS —
    event-stream LOCF) and pin each user's first-ever purchase value
    (first_value IGNORE NULLS over the full frame).  The sparse
    column is built with the same conditional on both engines, so
    null positions are identical; one exchange on user_id serves both
    frames.

    Round-11 skew fix: the PER-KEY adaptive LOCF bucket-carry
    pre-split (``operators/rangewindow.py``) — the plain two-window
    form buffered a hot key's full history in one task (3.01x
    hot-over-uniform at sf10 under honest forcing); with the carry
    explicit (one last-value row per (key, 24h-bucket) chained
    through a |buckets|-row window) the hot key's sort spreads over
    buckets.  Bit-identical per row; oracle unchanged.  The events
    footer row count comes first: a table no larger than the hot floor
    takes the plain form with no probe job, and only a larger one runs
    the max-key-count probe."""
    from ..operators.rangewindow import locf_first_adaptive

    e = load(spark, sf_dir, "events")
    pv = F.when(
        F.col("event_type") == "purchase",
        cents(F.col("value")),
    )
    out = locf_first_adaptive(
        e.select("user_id", "event_id", "ts", "event_type", "value"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        val=pv,
        bucket_us=24 * 3600 * 1_000_000,
        last_alias="__lpv",
        first_alias="__fpv",
        max_rows=table_rows(sf_dir, "events"),
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("__lpv") / 100.0).alias("last_purchase_value"),
        (F.col("__fpv") / 100.0).alias("first_purchase_value"),
    )


_Q115_SQL = """
SELECT user_id, event_id, ts,
       CAST(last_value(pv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
         AS last_purchase_value,
       CAST(first_value(pv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS DOUBLE) / 100.0 AS first_purchase_value
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END AS pv
  FROM events
)
"""


# --------------------------------------------------------------- q116
def q116_incremental_view_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-type summary
    (count, cent-sum, exact distinct users) maintained by MERGING a
    new day's delta into yesterday's state — no base rescan.  Counts
    and sums add; exact distinct merges because the state keeps
    sharded user bitmaps (q77's trick), so COUNT(DISTINCT) stays
    incrementally maintainable — the thing plain distinct counts
    famously are not.  The oracle computes the same summary directly
    over all data: merge(state, delta) == recompute, bit-for-bit.

    At 100 TB the state table is |types x buckets| rows regardless of
    history length; each nightly update touches one day of raw data
    plus that state."""
    cutoff = F.lit("2024-01-30").cast("timestamp")
    e = load(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))

    def summarize(df):
        return (
            df.select(
                "event_type",
                value_cents.alias("__c"),
                F.bitmap_bucket_number(F.col("user_id")).alias("__bkt"),
                F.bitmap_bit_position(F.col("user_id")).alias("__pos"),
            )
            .groupBy("event_type", "__bkt")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("__c").alias("sum_cents"),
                F.bitmap_construct_agg(F.col("__pos")).alias("bm"),
            )
        )

    state = summarize(e.filter(F.col("ts") < cutoff))
    delta = summarize(e.filter(F.col("ts") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("event_type", "__bkt")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
            F.bitmap_or_agg(F.col("bm")).alias("bm"),
        )
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("sum_cents") / 100.0).alias("total_value"),
            F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"),
        )
        .orderBy("event_type")
    )


_Q116_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- q117
def q117_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gap detection: missing ranges in what should be a
    dense id sequence (per-user event_ids here; the same query audits
    kafka offsets, invoice numbers, ingest batch ids).  One lag
    window per user, rows where ``id > prev + 1`` emit the missing
    [prev+1, id-1] range — no generate/explode of the full id domain,
    so the cost tracks |events|, not |id-space| (the naive
    sequence-table anti-join would materialize the domain)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("event_id").over(w)
    return (
        e.select("user_id", "event_id")
        .withColumn("__prev", prev)
        .filter(F.col("__prev").isNotNull() & (F.col("event_id") > F.col("__prev") + 1))
        .select(
            "user_id",
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col("event_id") - 1).alias("gap_end"),
            (F.col("event_id") - F.col("__prev") - 1).alias("n_missing"),
        )
        .orderBy("user_id", "gap_start")
    )


_Q117_SQL = """
SELECT user_id,
       prev + 1 AS gap_start,
       event_id - 1 AS gap_end,
       event_id - prev - 1 AS n_missing
FROM (
  SELECT user_id, event_id,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events
)
WHERE prev IS NOT NULL AND event_id > prev + 1
ORDER BY user_id, gap_start
"""


# --------------------------------------------------------------- q118
def q118_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the event_type x user
    cohort contingency table (feature-correlation screening).  Cell,
    row, column and grand totals are exact integers; each cell's term
    is the double ``(o*n - r*c)^2 / (r*c*n)`` (one division of two
    exact int64s) and the 25 terms are summed by a SORTED sequential
    fold — float addition is not associative, so a deterministic
    order is what makes the statistic reproducible across partition
    schedules AND engines (q76's technique).

    Scale: the contingency table is |types x cohorts| rows no matter
    the fact size; the only wide exchange is the cell count."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", (F.col("user_id") % 5).alias("cohort")
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("cohort")
    wn = Window.partitionBy()
    with_totals = cells.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wn).alias("n"),
    )
    folded = with_totals.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("event_type", "cohort", "o", "r", "c", "n"))),
            F.lit(0.0),
            lambda acc, cell: acc
            + F.pow(cell["o"] * cell["n"] - cell["r"] * cell["c"], F.lit(2.0))
            / (cell["r"] * cell["c"] * cell["n"]).cast("double"),
        ).alias("chi_square"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("n_obs"),
    )
    return folded


_Q118_SQL = """
WITH cells AS (
  SELECT event_type, user_id % 5 AS cohort, CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, cohort, o,
         sum(o) OVER (PARTITION BY event_type) AS r,
         sum(o) OVER (PARTITION BY cohort) AS c,
         sum(o) OVER () AS n
  FROM cells
)
SELECT list_reduce(
         list_prepend(0.0, list(
           CAST((o * n - r * c) AS DOUBLE) ** 2 / CAST(r * c * n AS DOUBLE)
           -- NULLS FIRST: Spark's array_sort puts NULL struct fields
           -- first; the fold order must match or the float sum drifts
           ORDER BY event_type NULLS FIRST, cohort)),
         (acc, x) -> acc + x) AS chi_square,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(max(n) AS BIGINT) AS n_obs
FROM t
"""


# --------------------------------------------------------------- q119
def q119_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic grouped MODE: each user's most frequent event
    type, ties to the lexicographically smallest type.  Built-in
    ``F.mode`` documents no tiebreak order, so reproducible pipelines
    use the explicit form: count per (group, value) — ONE partial-
    aggregated fact exchange — then a rank window over the tiny
    aggregate with a total order.  Oracle states the same order."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        top_k_per_group(
            counts,
            group_by=["user_id"],
            order_by=[F.col("n").desc(), F.col("event_type")],
            k=1,
        )
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
        .orderBy("user_id")
    )


_Q119_SQL = """
SELECT user_id, event_type AS modal_type, n
FROM (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY count(*) DESC, event_type) AS rk
  FROM events GROUP BY 1, 2
)
WHERE rk = 1
ORDER BY user_id
"""


# --------------------------------------------------------------- q129
def q129_cuped_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation analytics: CUPED variance-reduced A/B readout
    (Deng et al., WSDM'13 — the standard trick for shrinking metric
    variance with a pre-period covariate).  Variant = user_id parity;
    Y = user's post-period value sum (Jan 16+), X = pre-period sum;
    θ = cov(X, Y)/var(X) over all users, and the per-variant CUPED
    mean uses the algebraic identity
    mean(Y − θ·(X − E[X])) = mean(Y) − θ·(mean_v(X) − E[X]) — so no
    per-user float ever exists, let alone a float sum.

    Exactness: per-user X/Y are integer centi-sums; cov/var come from
    integer Σx, Σy, Σxy, Σx² (≲2^58 at bench scale; DECIMAL(38,0) at
    100 TB, same plan); θ and the means are a fixed sequence of
    scalar double ops — bit-identical on both engines.

    Scale shape: ONE exchange on user_id builds the per-user X/Y
    table (conditional partial aggs); the moment row is a second
    single-row aggregate broadcast back over the 2-row variant
    aggregate."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    v_centi = cents(F.col("value"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cutoff, v_centi).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(F.col("ts") >= cutoff, v_centi).otherwise(F.lit(0))).alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("bigint"))
    ).transform(scoped_persist)
    moments = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    by_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("vx"),
        F.sum("y").alias("vy"),
    )
    # theta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2); all-integer operands,
    # one double division; the CUPED mean is three more scalar ops.
    return (
        by_variant.crossJoin(F.broadcast(moments))
        .select(
            "variant",
            "n_users",
            (F.col("vy") / (100.0 * F.col("n_users"))).alias("mean_y"),
            (
                F.col("vy") / (100.0 * F.col("n_users"))
                - (
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                )
                * (
                    F.col("vx") / (100.0 * F.col("n_users"))
                    - F.col("sx") / (100.0 * F.col("n"))
                )
            ).alias("mean_y_cuped"),
        )
    )


_Q129_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM per_user
), v AS (
  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS vx, CAST(sum(y) AS BIGINT) AS vy
  FROM per_user GROUP BY 1
)
SELECT variant, n_users,
       CAST(vy AS DOUBLE) / (100.0 * n_users) AS mean_y,
       CAST(vy AS DOUBLE) / (100.0 * n_users)
         - (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
            / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
           * (CAST(vx AS DOUBLE) / (100.0 * n_users)
              - CAST(m.sx AS DOUBLE) / (100.0 * m.n)) AS mean_y_cuped
FROM v CROSS JOIN m
"""


def pareto_min_min(
    df: DataFrame, *, group: str, x: str, y: str
) -> DataFrame:
    """Rows not dominated within their group when minimizing BOTH
    ``x`` and ``y`` (dominated = another row ≤ on both, < on one).
    Two linear windows on one group exchange — see q138 for the
    derivation; exact for integer-comparable columns, duplicates of a
    frontier point all survive."""
    w_at = Window.partitionBy(group, x)
    w_prior = (
        Window.partitionBy(group)
        .orderBy(F.col(x))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    m = df.select(
        "*",
        F.min(y).over(w_at).alias("__min_at"),
        F.min(y).over(w_prior).alias("__prior_min"),
    )
    return m.filter(
        (F.col(y) == F.col("__min_at"))
        & (F.col("__prior_min").isNull() | (F.col(y) < F.col("__prior_min")))
    ).drop("__min_at", "__prior_min")


# --------------------------------------------------------------- q138
def q138_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) per brand over (price ↓, size ↓): a
    part survives iff no same-brand part is ≤ on both dimensions and
    strictly < on one.  The quadratic NOT-EXISTS definition is
    rewritten as two linear window passes — min size AT each price
    level and the running min size over STRICTLY cheaper parts (an
    integer-keyed RANGE frame ending at -1 excludes price ties
    exactly) — so the whole skyline costs ONE exchange on the brand
    and a sorted scan, regardless of how many parts a brand has.
    Prices compare as exact integer cents (repo-wide convention:
    float money never enters an ordering)."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        cents(F.col("p_retailprice")).alias("__cents"),
        "p_size",
    )
    return pareto_min_min(p, group="p_brand", x="__cents", y="p_size").select(
        "p_partkey",
        "p_brand",
        (F.col("__cents") / F.lit(100.0)).alias("price"),
        "p_size",
    )


_Q138_SQL = """
WITH P AS (
  SELECT p_partkey, p_brand,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents, p_size
  FROM part
), M AS (
  SELECT *,
         min(p_size) OVER (PARTITION BY p_brand, cents) AS min_at,
         min(p_size) OVER (PARTITION BY p_brand ORDER BY cents
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_min
  FROM P
)
SELECT p_partkey, p_brand, cents / 100.0 AS price, p_size
FROM M
WHERE p_size = min_at AND (prior_min IS NULL OR p_size < prior_min)
"""


# --------------------------------------------------------------- q142
def q142_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click no older than 30 minutes (NULL when
    none) — as-of semantics on an event stream, distinct from the
    funnel (q68: did the sequence happen) and path mining (q107: what
    sequences happen).  Clicks collapse to one row per (user, ts)
    first (max event id — removes the only nondeterminism an as-of
    sort can have), then the tolerance-bounded as-of join is the
    engine's single-shuffle union+window rewrite: no range self-join,
    no per-row subquery."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        probe_ts="ts",
        state_ts="ts",
        value_cols=["click_id"],
        tolerance="30 MINUTE",
    )


_Q142_SQL = """
WITH P AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), C AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       (SELECT c.click_id FROM C c
         WHERE c.user_id = p.user_id AND c.ts <= p.ts
           AND c.ts >= p.ts - INTERVAL 30 MINUTE
         ORDER BY c.ts DESC LIMIT 1) AS click_id
FROM P p
"""


# --------------------------------------------------------------- q139
def q139_exact_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quantiles (p25/p50/p75/p95) by distributed
    selection — the audit-grade twin of ``approx_percentile`` (q24):
    values order as exact integer cents, every group is sorted ONCE
    (row_number + count share the partition), and each quantile is
    the value AT position floor((n-1)·p)+1 — lower-value selection,
    no interpolation, so ties and floats cannot diverge between
    engines.  One exchange on the group key; the sort is linear per
    group and never global."""
    # quantiles ignore NULL measures (aggregate NULL contract; NULL
    # sort position is engine-specific — oracle carries the same WHERE)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            cents(F.col("value")).alias("__c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("__c")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "__c",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )

    def at(p: float) -> F.Column:
        pos = F.floor((F.col("__n") - 1) * F.lit(p)) + 1
        return F.max(F.when(F.col("__rn") == pos, F.col("__c"))) / 100.0

    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        at(0.25).alias("p25"),
        at(0.50).alias("p50"),
        at(0.75).alias("p75"),
        at(0.95).alias("p95"),
    )


_Q139_SQL = """
WITH C AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), R AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM C
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       max(CASE WHEN rn = floor((n - 1) * 0.25) + 1 THEN c END) / 100.0 AS p25,
       max(CASE WHEN rn = floor((n - 1) * 0.50) + 1 THEN c END) / 100.0 AS p50,
       max(CASE WHEN rn = floor((n - 1) * 0.75) + 1 THEN c END) / 100.0 AS p75,
       max(CASE WHEN rn = floor((n - 1) * 0.95) + 1 THEN c END) / 100.0 AS p95
FROM R
GROUP BY event_type
"""


# --------------------------------------------------------------- q143
def q143_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality readout for the seasonal-naive baseline
    (ŷ(t) = y(t − 24 h)): per event type, the hourly-total series is
    compared against itself shifted one day — MAE and mean bias over
    the matched hours.  The \"shift\" is a self-join on the shifted
    hour key (NOT a lag window: missing hours would silently misalign
    a row-offset lag), co-partitioned with the hourly aggregate on
    the same (type, hour) key.  Error sums accumulate as exact
    integer cents; the two means are final one-shot divisions."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            cents(F.col("value")).alias("__c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("__c").alias("tot"))
    )
    prior = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("tot").alias("prior_tot"),
    )
    j = hourly.join(prior, ["event_type", "h"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        (
            F.sum(F.abs(F.col("tot") - F.col("prior_tot")))
            / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("mae"),
        (
            F.sum(F.col("tot") - F.col("prior_tot"))
            / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("mean_bias"),
    )


_Q143_SQL = """
WITH H AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(CAST(round(value * 100) AS BIGINT)) AS tot
  FROM events GROUP BY 1, 2
)
SELECT a.event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(abs(a.tot - b.tot)) AS DOUBLE) / (100.0 * count(*)) AS mae,
       CAST(sum(a.tot - b.tot) AS DOUBLE) / (100.0 * count(*)) AS mean_bias
FROM H a JOIN H b
  ON a.event_type = b.event_type AND b.h + INTERVAL 24 HOUR = a.h
GROUP BY a.event_type
"""


# --------------------------------------------------------------- q151
def q151_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, recency (days
    since last purchase, anchored at the corpus max timestamp),
    frequency (purchase count) and monetary (integer cents) fold into
    explicit quintile codes — floor((rank−1)·5/n)+1 with a user-id
    tiebreak, NOT ``ntile`` (engines disagree on ntile's remainder
    distribution).  The ranking windows run over the USER-level
    aggregate — dimension-sized, not fact-sized — which is why the
    global sort is acceptable here and would not be on the raw event
    stream.  Lower quintile = better (recent/frequent/big-spending)."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.to_date("ts")).alias("__anchor"))
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents(F.col("value"))).alias("__cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("__anchor", "__last").cast("bigint").alias("recency_days"),
            "frequency",
            "__cents",
        )
    )
    n = F.count(F.lit(1)).over(Window.partitionBy())

    def quintile(order_cols):
        rank = F.row_number().over(Window.orderBy(*order_cols))
        return (F.floor((rank - 1) * 5 / n) + 1).cast("bigint")

    out = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        (F.col("__cents") / 100.0).alias("monetary"),
        quintile([F.col("recency_days").asc(), F.col("user_id").asc()]).alias("r_q"),
        quintile([F.col("frequency").desc(), F.col("user_id").asc()]).alias("f_q"),
        quintile([F.col("__cents").desc(), F.col("user_id").asc()]).alias("m_q"),
    )
    return out.withColumn(
        "rfm", (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).cast("bigint")
    )


_Q151_SQL = """
WITH A AS (
  SELECT max(CAST(ts AS DATE)) AS anchor FROM events
), U AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), (SELECT anchor FROM A))
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), R AS (
  SELECT *,
         CAST(count(*) OVER () AS BIGINT) AS n,
         row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
         row_number() OVER (ORDER BY cents DESC, user_id) AS rm
  FROM U
)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency,
       cents / 100.0 AS monetary,
       CAST(floor((rr - 1) * 5 / n) + 1 AS BIGINT) AS r_q,
       CAST(floor((rf - 1) * 5 / n) + 1 AS BIGINT) AS f_q,
       CAST(floor((rm - 1) * 5 / n) + 1 AS BIGINT) AS m_q,
       CAST((floor((rr - 1) * 5 / n) + 1) * 100
          + (floor((rf - 1) * 5 / n) + 1) * 10
          + (floor((rm - 1) * 5 / n) + 1) AS BIGINT) AS rfm
FROM R
"""


# --------------------------------------------------------------- q152
def q152_conversion_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion-delay distribution per day: each
    purchase attributes to the user's latest click within 30 minutes
    (q142's as-of), the delay accumulates as EXACT integer
    microseconds, and the daily median/p95 come from the q139
    selection rule — partitioned by day, so the quantile sort is
    distributed, never global.  The final seconds conversion is one
    division per output row."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    att = asof_join(
        purchases,
        clicks.select("user_id", "ts", "click_id"),
        on=["user_id"],
        probe_ts="ts",
        state_ts="ts",
        value_cols=["click_id"],
        tolerance="30 MINUTE",
    ).filter(F.col("click_id").isNotNull())
    c_ts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("__cts")
    )
    delays = att.join(c_ts, "click_id").select(
        F.to_date("ts").alias("day"),
        (F.unix_micros(F.col("ts").cast("timestamp")) -
         F.unix_micros(F.col("__cts").cast("timestamp"))).alias("__us"),
    )
    w = Window.partitionBy("day").orderBy("__us")
    wn = Window.partitionBy("day")
    r = delays.select(
        "day",
        "__us",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )

    def at(p: float) -> F.Column:
        pos = F.floor((F.col("__n") - 1) * F.lit(p)) + 1
        return F.max(F.when(F.col("__rn") == pos, F.col("__us"))) / 1000000.0

    return r.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        at(0.5).alias("p50_delay_s"),
        at(0.95).alias("p95_delay_s"),
    )


_Q152_SQL = """
WITH C AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), A AS (
  SELECT p.event_id, p.ts,
         (SELECT c.click_id FROM C c
           WHERE c.user_id = p.user_id AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 30 MINUTE
           ORDER BY c.ts DESC LIMIT 1) AS click_id
  FROM events p WHERE p.event_type = 'purchase'
), D AS (
  SELECT CAST(a.ts AS DATE) AS day,
         epoch_us(a.ts) - epoch_us(e.ts) AS us
  FROM A a JOIN events e ON e.event_id = a.click_id
  WHERE a.click_id IS NOT NULL
), R AS (
  SELECT day, us,
         row_number() OVER (PARTITION BY day ORDER BY us) AS rn,
         count(*) OVER (PARTITION BY day) AS n
  FROM D
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_conversions,
       max(CASE WHEN rn = floor((n - 1) * 0.5) + 1 THEN us END) / 1000000.0
         AS p50_delay_s,
       max(CASE WHEN rn = floor((n - 1) * 0.95) + 1 THEN us END) / 1000000.0
         AS p95_delay_s
FROM R
GROUP BY day
"""


QUERIES = {
    "q129_cuped_experiment_readout": q129_cuped_experiment_readout,
    "q138_pareto_frontier": q138_pareto_frontier,
    "q151_rfm_segments": q151_rfm_segments,
    "q152_conversion_delay": q152_conversion_delay,
    "q139_exact_group_quantiles": q139_exact_group_quantiles,
    "q142_last_touch_attribution": q142_last_touch_attribution,
    "q143_seasonal_naive_error": q143_seasonal_naive_error,
    "q66_order_count_distribution": q66_order_count_distribution,
    "q67_interval_coalesce": q67_interval_coalesce,
    "q68_funnel": q68_funnel,
    "q69_snapshot_diff": q69_snapshot_diff,
    "q70_small_quantity_revenue": q70_small_quantity_revenue,
    "q71_argmax_event": q71_argmax_event,
    "q72_value_histogram": q72_value_histogram,
    "q73_weighted_sample": q73_weighted_sample,
    "q74_cohort_retention": q74_cohort_retention,
    "q75_hopping_window": q75_hopping_window,
    "q76_ewma": q76_ewma,
    "q105_lambda_serving": q105_lambda_serving,
    "q107_session_paths": q107_session_paths,
    "q108_schema_evolution_union": q108_schema_evolution_union,
    "q109_trailing_active_users": q109_trailing_active_users,
    "q115_ignore_nulls_windows": q115_ignore_nulls_windows,
    "q116_incremental_view_update": q116_incremental_view_update,
    "q117_sequence_gaps": q117_sequence_gaps,
    "q118_chi_square_independence": q118_chi_square_independence,
    "q119_grouped_mode": q119_grouped_mode,
}

ORACLE = {
    "q129_cuped_experiment_readout": _Q129_SQL,
    "q138_pareto_frontier": _Q138_SQL,
    "q139_exact_group_quantiles": _Q139_SQL,
    "q142_last_touch_attribution": _Q142_SQL,
    "q143_seasonal_naive_error": _Q143_SQL,
    "q151_rfm_segments": _Q151_SQL,
    "q152_conversion_delay": _Q152_SQL,
    "q66_order_count_distribution": _Q66_SQL,
    "q67_interval_coalesce": _Q67_SQL,
    "q68_funnel": _Q68_SQL,
    "q69_snapshot_diff": _Q69_SQL,
    "q70_small_quantity_revenue": _Q70_SQL,
    "q71_argmax_event": _Q71_SQL,
    "q72_value_histogram": _Q72_SQL,
    "q73_weighted_sample": _Q73_SQL,
    "q74_cohort_retention": _Q74_SQL,
    "q75_hopping_window": _Q75_SQL,
    "q76_ewma": _Q76_SQL,
    "q105_lambda_serving": _Q105_SQL,
    "q107_session_paths": _Q107_SQL,
    "q108_schema_evolution_union": _Q108_SQL,
    "q109_trailing_active_users": _Q109_SQL,
    "q115_ignore_nulls_windows": _Q115_SQL,
    "q116_incremental_view_update": _Q116_SQL,
    "q117_sequence_gaps": _Q117_SQL,
    "q118_chi_square_independence": _Q118_SQL,
    "q119_grouped_mode": _Q119_SQL,
}
