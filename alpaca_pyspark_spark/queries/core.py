"""Core relational query set (SURVEY.md §2G q01–q11, q14).

Every query is a pure ``(spark, sf_dir) -> DataFrame`` function over
the driver's synthetic tables, with a DuckDB oracle in ``ORACLE``.
Columns are aliased identically on both sides (driver hashes values
after sorting columns by name).  Determinism rules used throughout:

- ``(user_id, ts)`` is unique in ``events`` at every SF (verified),
  so ``min_by(value, ts)`` / ``arg_min(value, ts)`` are deterministic.
- every window order includes a unique tiebreaker;
- float aggregates that accumulate in engine-dependent order are
  ``round``-ed to a fixed scale on BOTH sides;
- integer aggregates are cast to BIGINT on both sides (DuckDB SUM on
  integers returns HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..operators.adjustment import (
    adjust_backward_all_ordered,
    adjust_backward_dividend,
    adjust_backward_split_ordered,
)
from ..operators.asof import asof_join
from ..operators.bars import tumbling_bars
from ..operators.dispatch import table_rows
from ..operators.topk import top_k_per_group
from ..tables import load


# ---------------------------------------------------------------- q01
def q01_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + pushed filter + projection (reference D1/D2 pushdown:
    symbol IN-list + time-range params, common.py:393-395).  The filter
    and the 5-column projection reach the parquet scan via Catalyst
    (PushedFilters in the plan — see tests/test_plans.py)."""
    e = load(spark, sf_dir, "events")
    return e.filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
    ).select("event_id", "ts", "user_id", "event_type", "value")


_Q01_SQL = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type IN ('click', 'purchase')
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
"""


# ---------------------------------------------------------------- q02
def q02_bars_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick→OHLCV bar construction (reference D5 ``timeframe``; bar
    schema bars.py:115-127).  events: user_id↔symbol, ts↔time,
    value↔price; each tick has implicit size 1 so volume==trade_count
    and vwap is the mean price."""
    e = load(spark, sf_dir, "events")
    return tumbling_bars(e, key="user_id", ts="ts", price="value", interval="1 day")


_Q02_SQL = """
SELECT user_id,
       time_bucket(INTERVAL '1 day', ts) AS bar_start,
       arg_min(value, ts)  AS open,
       max(value)          AS high,
       min(value)          AS low,
       arg_max(value, ts)  AS close,
       CAST(count(*) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS trade_count,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS vwap
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q03
def q03_interval_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical delegated query (USAGE.md:264-277): equality +
    time-containment join, COUNT/AVG aggregation.  For each signup
    event, follow-on activity of the same user within 1 day.

    Since round 11 this runs the PER-KEY skew-adaptive dispatch
    (VERDICT r10 item 5, mirroring q14/q107's sessionize move), on
    estimated pair work: the naive pair join for keys under
    ``PAIR_FLOOR`` (its fixed cost is lowest) and the q205
    hierarchical decomposition past it, where the pair join's SMJ
    group re-scan becomes a single-task straggler (~5e6 pairs/s —
    126 s on skew1's 6.2e8-pair hot key vs 3.1 s decomposed; see
    ``operators/intervalagg.py``).  Both branches are bit-identical
    per key, so the oracle SQL is UNCHANGED."""
    from ..operators.intervalagg import trailing_interval_agg_adaptive

    e = load(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id"), F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts")
    )
    f = e.select(
        "user_id",
        F.col("ts").alias("f_ts"),
        cents(F.col("value")).alias("__cents"),
    )
    agg = trailing_interval_agg_adaptive(
        s,
        f,
        key="user_id",
        anchor_ts="s_ts",
        event_ts="f_ts",
        window_seconds=86400,
        sum_col="__cents",
    )
    return agg.select(
        "user_id",
        "signup_id",
        "n_follow",
        # the identical IEEE expression as before: exact integer cents
        # summed, ONE final division (see ``tumbling_bars``) —
        # order-independent, oracle-exact on both dispatch branches
        (
            F.col("sum_cents").cast("double")
            / (F.lit(100.0) * F.col("n_follow"))
        ).alias("avg_value"),
    )


_Q03_SQL = """
SELECT s.user_id,
       s.event_id AS signup_id,
       CAST(count(f.event_id) AS BIGINT) AS n_follow,
       CAST(sum(CAST(round(f.value * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(f.event_id)) AS avg_value
FROM (SELECT * FROM events WHERE event_type = 'signup') s
LEFT JOIN events f
  ON f.user_id = s.user_id
 AND f.ts > s.ts
 AND f.ts <= s.ts + INTERVAL 1 DAY
GROUP BY 1, 2
"""


# --------------------------------------------------------------- q205
def q205_interval_agg_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q03's equality + time-containment aggregate on the
    HIERARCHICAL INTERVAL DECOMPOSITION (``operators/intervalagg.py``)
    — same oracle SQL, radically different intermediate; registered
    as the PINNED INSURANCE twin, not a faster default.

    Round-11 correction of this family's round-10 story, twice over
    (SCALE.md round-11): every prior timing of the naive pair join —
    including round 10's "6e10 pairs run in 1.4 s" honesty note and
    this round's first recalibration — was ``count()``-forced, and
    under a count Catalyst prunes the aggregate and DELETES the join
    entirely (verified in the optimized plan).  Honestly forced (noop
    sink, ``plans.force_evaluate``) the naive join's SMJ re-scan is a
    single-task straggler at ~5e6 pairs/s: 126 s on skew1's 6.2e8-pair
    hot key, killed past 45 min on skew10's 6.2e10, where this
    decomposition takes 3.1 s / 8.8 s on the same hot keys.  Round
    9's instinct (the pair join cannot ship against hot keys) was
    right; what it missed is that COLD keys are naive territory —
    the measured break-even is ~1.5e7 pairs on one key, encoded as
    q03's dispatch floor (``PAIR_FLOOR``).  Registered q205 runs the
    decomposition on EVERY key, so its full-corpus timing row carries
    the fan-out shuffle's real cost (~141 rows/anchor); that is the
    price of the skew-immunity its SKEW row shows, not a plan you'd
    pick for a uniform corpus.  Counts and cent-sums are exact
    integers in every stratum, so the output is bit-identical to the
    pair join and the oracle is UNCHANGED (q03's SQL verbatim)."""
    from ..operators.intervalagg import trailing_interval_agg

    e = load(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_ts"),
    )
    f = e.select(
        "user_id",
        F.col("ts").alias("f_ts"),
        cents(F.col("value")).alias("__cents"),
    )
    dec = trailing_interval_agg(
        s,
        f,
        key="user_id",
        anchor_ts="s_ts",
        event_ts="f_ts",
        window_seconds=86400,
        sum_col="__cents",
    )
    return dec.select(
        "user_id",
        "signup_id",
        "n_follow",
        # the identical IEEE expression q03 evaluates over the same
        # exact integers: one division, no intermediate rounding
        (
            F.col("sum_cents").cast("double")
            / (F.lit(100.0) * F.col("n_follow"))
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------- q04
def q04_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort/limit pushdown analog (reference D3/D4) as distributed
    per-group top-k: 5 priciest lineitems per returnflag."""
    li = load(spark, sf_dir, "lineitem")
    return top_k_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        group_by=["l_returnflag"],
        order_by=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        k=5,
    )


_Q04_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         CAST(row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS BIGINT) AS rn
  FROM lineitem
)
WHERE rn <= 5
"""


# ---------------------------------------------------------------- q05
def q05_groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation over region→nation→customer with
    ROLLUP subtotals; dimension joins are broadcast (region/nation are
    fixed-cardinality — never shuffle the fact side for them)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    # exact-cents sum (see ``tumbling_bars``): BIGINT accumulation is
    # order-independent; one final division matches the oracle exactly
    bal_cents = cents(F.col("c_acctbal"))
    return joined.rollup("r_name", "n_name").agg(
        (F.sum(bal_cents) / 100.0).alias("sum_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


_Q05_SQL = """
SELECT r_name, n_name,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_acctbal,
       CAST(count(*) AS BIGINT) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
-- Spark emits NO grouping-set rows on empty input (deviating from the
-- SQL-standard one-()-row); count(*)>0 pins that semantics on any data
HAVING count(*) > 0
"""


# ---------------------------------------------------------------- q06
def q06_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (reference D9 ``asof`` option): for each
    click, the user's latest purchase value at-or-before the click."""
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        probe_ts="ts",
        state_ts="ts",
        value_cols=["last_purchase_value"],
    )


_Q06_SQL = """
SELECT c.user_id, c.event_id AS click_id, c.ts,
       p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# ---------------------------------------------------------------- q07
def q07_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dividend back-adjustment (reference D6 ``adjustment=dividend``):
    purchases are 'prices', errors play a dividend feed; each price is
    reduced by the sum of strictly-later dividend amounts.  Linear
    window implementation (no self-join), exact in integer cents."""
    e = load(spark, sf_dir, "events")
    prices = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    dividends = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", (F.col("value") / 100.0).alias("amount")
    )
    return adjust_backward_dividend(
        prices,
        dividends,
        on=["user_id"],
        price_ts="ts",
        div_ts="ts",
        price_col="value",
        amount_col="amount",
        out_col="adj_value",
    )


_Q07_SQL = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts, value
  FROM events WHERE event_type = 'purchase'
), d AS (
  SELECT user_id, ts,
         CAST(round((value / 100.0) * 100) AS BIGINT) AS amount_cents
  FROM events WHERE event_type = 'error'
), f AS (
  SELECT p.purchase_id, CAST(sum(d.amount_cents) AS BIGINT) AS dc
  FROM p JOIN d ON d.user_id = p.user_id AND d.ts > p.ts
  GROUP BY 1
)
SELECT p.user_id, p.purchase_id, p.ts, p.value,
       (CAST(round(p.value * 100) AS BIGINT) - coalesce(f.dc, 0)) / 100.0
         AS adj_value
FROM p LEFT JOIN f USING (purchase_id)
"""


def q07_adjustment_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split (multiplicative) back-adjustment — reference D6
    ``adjustment=split``.  Ordered-fold variant: the split feed is
    dimension-sized, so it packs into per-key sorted arrays and
    broadcasts — the price stream is never shuffled, and the sequential
    ``aggregate`` product is bit-exact against DuckDB's ``list_reduce``
    over the same sorted list (no exp/log, no rounding)."""
    e = load(spark, sf_dir, "events")
    prices = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    splits = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        (1.0 + (F.floor("value").cast("bigint") % 5) / 100.0).alias("ratio"),
    )
    return adjust_backward_split_ordered(
        prices,
        splits,
        on=["user_id"],
        price_ts="ts",
        split_ts="ts",
        price_col="value",
        ratio_col="ratio",
        out_col="adj_value",
    )


def q07_adjustment_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined ``adjustment=all``: strictly-later dividends subtracted
    in exact integer cents, then the ordered-fold split product applied
    — exact end-to-end (one window pass for dividends + one broadcast
    map stage for splits)."""
    e = load(spark, sf_dir, "events")
    prices = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    splits = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        (1.0 + (F.floor("value").cast("bigint") % 5) / 100.0).alias("ratio"),
    )
    dividends = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", (F.col("value") / 100.0).alias("amount")
    )
    return adjust_backward_all_ordered(
        prices,
        splits,
        dividends,
        on=["user_id"],
        price_ts="ts",
        action_ts="ts",
        price_col="value",
        ratio_col="ratio",
        amount_col="amount",
    )


# DuckDB twin of the ordered fold: the same ts-sorted ratio list,
# filtered to strictly-later splits, folded left-to-right with a seed
# of 1.0 prepended (list_reduce has no seed arg; prepending reproduces
# Spark's aggregate(…, 1.0, acc*r) multiply order exactly).
_Q07_SPLIT_SQL = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts, value
  FROM events WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, ts,
         1.0 + (CAST(floor(value) AS BIGINT) % 5) / 100.0 AS ratio
  FROM events WHERE event_type = 'signup'
), sl AS (
  SELECT user_id,
         list(struct_pack(ts := ts, r := ratio) ORDER BY ts, ratio) AS splits
  FROM s GROUP BY 1
)
SELECT p.user_id, p.purchase_id, p.ts, p.value,
       p.value * coalesce(
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list_transform(
               list_filter(sl.splits, x -> x.ts > p.ts), x -> x.r)),
           (acc, r) -> acc * r),
         1.0) AS adj_value
FROM p LEFT JOIN sl USING (user_id)
"""


_Q07_ALL_SQL = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts, value
  FROM events WHERE event_type = 'purchase'
), d AS (
  SELECT user_id, ts,
         CAST(round((value / 100.0) * 100) AS BIGINT) AS amount_cents
  FROM events WHERE event_type = 'error'
), f AS (
  SELECT p.purchase_id, CAST(sum(d.amount_cents) AS BIGINT) AS dc
  FROM p JOIN d ON d.user_id = p.user_id AND d.ts > p.ts
  GROUP BY 1
), s AS (
  SELECT user_id, ts,
         1.0 + (CAST(floor(value) AS BIGINT) % 5) / 100.0 AS ratio
  FROM events WHERE event_type = 'signup'
), sl AS (
  SELECT user_id,
         list(struct_pack(ts := ts, r := ratio) ORDER BY ts, ratio) AS splits
  FROM s GROUP BY 1
)
SELECT p.user_id, p.purchase_id, p.ts, p.value,
       ((CAST(round(p.value * 100) AS BIGINT) - coalesce(f.dc, 0)) / 100.0)
       * coalesce(
           list_reduce(
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(
                 list_filter(sl.splits, x -> x.ts > p.ts), x -> x.r)),
             (acc, r) -> acc * r),
           1.0) AS adj_value
FROM p
LEFT JOIN f USING (purchase_id)
LEFT JOIN sl ON sl.user_id = p.user_id
"""


# ---------------------------------------------------------------- q08
def q08_setops_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent re-ingest analog (reference C5 skip semantics):
    union of two overlapping loads → exact dedup → EXCEPT ALL of an
    exclusion set."""
    # Three independent scans: sharing one DataFrame's lineage across
    # union + exceptAll trips Spark 4.1's attribute dedup
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); separate reads also mirror
    # how two real ingest loads would arrive.
    a = load(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-20 00:00:00")
    b = load(spark, sf_dir, "events").filter(F.col("ts") >= "2024-01-10 00:00:00")
    errors = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    # Full-row distinct (duplicate rows from overlapping loads are
    # exact copies; event_id is unique within each load).
    deduped = a.unionByName(b).distinct()
    return deduped.exceptAll(errors)


_Q08_SQL = """
SELECT DISTINCT * FROM (
  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
  UNION ALL
  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
)
EXCEPT ALL
SELECT * FROM events WHERE event_type = 'error'
"""


# ---------------------------------------------------------------- q09
def q09_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parse/cast layer as scalar expressions (reference C1-C4):
    date_trunc, concat_ws (C3 array→string), coalesce defaults (C4),
    JSON extraction, string/math functions."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.upper("event_type").alias("event_type_u"),
        F.concat_ws("-", F.col("event_type"), F.col("user_id").cast("string")).alias("tag"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("ERR")).alias("et_clean"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.round(F.sqrt(F.abs(F.col("value"))), 4).alias("sqrt_val"),
        F.substring("event_type", 1, 3).alias("et3"),
        F.length("props").cast("bigint").alias("props_len"),
    )


_Q09_SQL = """
SELECT event_id,
       date_trunc('hour', ts) AS ts_hour,
       upper(event_type) AS event_type_u,
       concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS tag,
       coalesce(nullif(event_type, 'error'), 'ERR') AS et_clean,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       round(sqrt(abs(value)), 4) AS sqrt_val,
       substring(event_type, 1, 3) AS et3,
       CAST(length(props) AS BIGINT) AS props_len
FROM events
"""


# ---------------------------------------------------------------- q10
def q10_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-existence checks (reference symbols validation,
    common.py:252-267): customers with / without orders via
    left_semi / left_anti joins."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    cond = c.c_custkey == o.o_custkey
    semi = c.join(o, cond, "left_semi").select(
        "c_custkey", F.lit("has_order").alias("status")
    )
    anti = c.join(o, cond, "left_anti").select(
        "c_custkey", F.lit("no_order").alias("status")
    )
    return semi.unionByName(anti)


_Q10_SQL = """
SELECT c_custkey, 'has_order' AS status FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, 'no_order' AS status FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------- q11
def q11_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-cardinality aggregation (oracle-checkable twin
    of the approx query below)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


_Q11_SQL = """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem
"""


def q11_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch cardinalities (reference: symbol-cardinality
    sanity, SURVEY.md §2G q11).  No SQL oracle — approximate values are
    engine-specific; the driver records a rows-only check.  At 100 TB
    this is THE way to count distincts: fixed-size sketch, single pass,
    mergeable across partitions."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("n_supps_approx"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n_orders_approx"),
    )


# ---------------------------------------------------------------- q14
def q14_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (batch
    gaps-and-islands; streaming twin in streaming/sessions.py).

    Runs on the SKEW-ADAPTIVE operator (``operators/sessionize.py``):
    the events footer row count, then (only when that count could hold
    a hot key) a max-key-count probe, picks the single per-key window
    when no key can straggle, or the two-level time-bucket pre-split +
    boundary-island stitch when one can — the two plans are
    output-identical (same oracle SQL).  SKEW_STRESS.json measured
    why both exist: on a 30%-hot key at sf10 the single-pass plan
    straggles 2.75x while the pre-split runs 0.73x; on sparse-uniform
    data the pre-split's island bookkeeping costs ~4x while the
    single pass is flat."""
    from ..operators.sessionize import session_summary_adaptive

    e = load(spark, sf_dir, "events")
    return session_summary_adaptive(
        e.select("user_id", "ts"),
        key="user_id",
        ts="ts",
        gap="30 minutes",
        max_rows=table_rows(sf_dir, "events"),
    )


# --------------------------------------------------------------- q130
def q130_streaming_sessions_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming engine under the correctness gate: events are
    file-streamed through a watermarked ``session_window`` aggregation
    (micro-batch execution, state store, watermark advancement — not a
    batch rewrite), run to completion, and the memory-sink table is
    returned for the zero-tolerance oracle compare.  The oracle is the
    gaps-and-islands twin with session_window's end semantics
    (end = last event + gap).

    Staging / micro-batch drain / memory sink live in
    ``streaming.gate.run_streaming_gate`` (complete mode needs no
    sentinel, so the source carries ``None``); only the session
    aggregation is query-specific."""
    from ..streaming.gate import run_streaming_gate
    from ..streaming.sessions import streaming_session_summary

    e = load(spark, sf_dir, "events").select("user_id", "ts")
    sunk = run_streaming_gate(
        spark,
        [(e, None)],
        lambda stream: streaming_session_summary(
            stream, key="user_id", ts="ts", gap="30 minutes",
            watermark_delay="1 hour",
        ),
        output_mode="complete",
        prefix="q130",
    )
    return sunk.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# --------------------------------------------------------------- q131
def q131_streaming_dedup_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once semantics over an at-least-once stream, executed
    for real and oracle-gated: the events table is staged to the file
    source TWICE (a full replay — the failure mode every ingest
    pipeline has), streamed through
    ``dropDuplicatesWithinWatermark(event_id)``, and the sink must
    contain exactly the original table.  Duplicate rows are identical
    copies, so which arrival is kept cannot change the result — the
    output is deterministic and the oracle is simply ``SELECT * FROM
    events``.  The replay is staged as ``events ∪ events`` through
    ``run_streaming_gate`` (no sentinel — dedup emits on arrival, no
    withheld tail to finalize)."""
    from ..streaming.dedup import dedup_stream
    from ..streaming.gate import run_streaming_gate

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sunk = run_streaming_gate(
        spark,
        [(e.unionByName(e), None)],  # the replay
        lambda stream: dedup_stream(
            stream, keys=["event_id"], ts="ts", watermark_delay="45 days"
        ),
        prefix="q131",
    )
    return sunk.select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


_Q131_SQL = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


# --------------------------------------------------------------- q145
def q145_streaming_outer_join_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, EXECUTED and
    oracle-gated: clicks stream ⟕ purchases stream (same user, within
    30 minutes after the click).  Outer rows are the hard part — the
    engine may emit a NULL-padded click only once the watermark PROVES
    no match can still arrive, so each source carries a far-future
    sentinel row that drives both watermarks past every real row and
    finalizes the whole outer side.  State stays bounded by
    rate × window either way — the property that matters unbounded.

    Sentinel staging / one-drain watermark finalization / memory sink
    all live in ``streaming.gate.run_streaming_gate`` (shared with
    q146/q153/q181 — see that module for why the sentinel filter must
    stay OUT of the streaming plan); only the join is query-specific."""
    from ..streaming.gate import run_streaming_gate, sentinel_row
    from ..streaming.joins import interval_join_stream

    e = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    sentinel = sentinel_row(
        spark, lambda ts: (-1, ts, -1),
        "event_id long, ts timestamp_ntz, user_id long",
    )
    clicks = e.filter(F.col("event_type") == "click").drop("event_type")
    buys = e.filter(F.col("event_type") == "purchase").drop("event_type")
    sunk = run_streaming_gate(
        spark,
        [(clicks.coalesce(2), sentinel), (buys.coalesce(2), sentinel)],
        lambda stream_l, stream_r: interval_join_stream(
            stream_l,
            stream_r,
            key="user_id",
            ts="ts",
            window="30 minutes",
            watermark_delay="1 hour",
            how="left_outer",
        ),
        prefix="q145",
    )
    return (
        sunk.filter(F.col("l_user_id") >= 0)
        .select(
            "l_event_id",
            F.col("l_user_id").alias("user_id"),
            F.col("l_ts").cast("timestamp_ntz").alias("l_ts"),
            "r_event_id",
            F.col("r_ts").cast("timestamp_ntz").alias("r_ts"),
        )
    )


_Q145_SQL = """
WITH C AS (
  SELECT event_id AS l_event_id, user_id, ts AS l_ts
  FROM events WHERE event_type = 'click'
), P AS (
  SELECT event_id AS r_event_id, user_id, ts AS r_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.l_event_id, c.user_id, c.l_ts, p.r_event_id, p.r_ts
FROM C c LEFT JOIN P p
  ON p.user_id = c.user_id
 AND p.r_ts >= c.l_ts
 AND p.r_ts < c.l_ts + INTERVAL 30 MINUTE
"""


# --------------------------------------------------------------- q146
def q146_streaming_hourly_windows_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-FINALIZED tumbling windows, executed in APPEND mode:
    hourly per-type event counts where each row is emitted exactly
    once, only after the watermark proves its hour closed (q130's
    session query used complete mode — this is the other, more
    scale-relevant emission discipline: append-mode state is dropped
    as windows finalize, so state holds only open hours regardless of
    stream length).  The gate helper's far-future sentinel advances
    the watermark past every real hour; its own (still-open) window
    never emits and the post-sink filter is belt-and-suspenders."""
    from ..streaming import watermarked
    from ..streaming.gate import run_streaming_gate, sentinel_row

    e = load(spark, sf_dir, "events").select("ts", "event_type")
    sentinel = sentinel_row(
        spark, lambda ts: (ts, "__sentinel"),
        "ts timestamp_ntz, event_type string",
    )
    sunk = run_streaming_gate(
        spark,
        [(e, sentinel)],
        lambda stream: (
            watermarked(stream, "ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        ),
        prefix="q146",
    )
    return (
        # eqNullSafe: a plain != is three-valued and silently drops
        # NULL-typed hours the oracle keeps (null-stress gate)
        sunk.filter(~F.col("event_type").eqNullSafe("__sentinel"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n",
        )
    )


_Q146_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------- q181
def q181_streaming_bars_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP semantic (D5 bar construction) run as
    a live stream under the hash gate: ticks flow through
    ``tumbling_bars_cents``, the re-aggregable form of batch q02's
    ``tumbling_bars`` (same NULL filter and OHLC picks, vwap from
    integer-cent state), with a watermark finalizing each daily bar
    exactly once in APPEND mode (state = one row per open (user, day),
    evicted on finalization; the continuous-aggregate discipline that
    keeps a 100 TB hypertable fresh without re-reading ticks).

    Watermark finalization via ``streaming.gate`` (sentinel user −1,
    outside the generator's key domain, filtered post-sink).  The
    oracle is the batch bar SQL: every streaming-finalized bar must
    equal its batch twin bit-for-bit, vwap included (exact
    integer-cent state)."""
    from ..streaming.bars import streaming_bars
    from ..streaming.gate import run_streaming_gate, sentinel_row

    e = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    sentinel = sentinel_row(
        spark, lambda ts: (-1, ts, 0.0),
        "user_id bigint, ts timestamp_ntz, value double",
    )
    sunk = run_streaming_gate(
        spark,
        [(e, sentinel)],
        lambda stream: streaming_bars(
            stream,
            key="user_id",
            ts="ts",
            price="value",
            interval="1 day",
            watermark_delay="1 hour",
        ),
        prefix="q181",
    )
    return (
        sunk.filter(F.col("user_id") != -1)
        .select(
            "user_id",
            F.col("bar_start").cast("timestamp_ntz").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "vwap",
        )
    )


_Q181_SQL = """
SELECT user_id,
       time_bucket(INTERVAL '1 day', ts) AS bar_start,
       arg_min(value, ts)  AS open,
       max(value)          AS high,
       min(value)          AS low,
       arg_max(value, ts)  AS close,
       CAST(count(*) AS BIGINT) AS volume,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS vwap
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------- q153
def q153_stateful_sessions_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming under the hash gate:
    ``applyInPandasWithState`` event-terminated sessions (an 'error'
    event closes the user's session; silence past the event-time
    timeout flushes it) — the operator class Spark has no built-in
    for, executed in the real engine with per-key state rows and
    event-time timeouts.  The batch twin is the gaps-and-islands
    split-after-marker rewrite, so every emitted session (boundaries,
    counts, how it ended) is value-verified.  Watermark finalization
    via ``streaming.gate``; the sentinel key is filtered post-sink."""
    from ..streaming.gate import run_streaming_gate, sentinel_row
    from ..streaming.stateful import event_terminated_sessions

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    sentinel = sentinel_row(
        spark, lambda ts: (-1, ts, "view"),
        "user_id long, ts timestamp_ntz, event_type string",
    )
    sunk = run_streaming_gate(
        spark,
        [(e, sentinel)],
        lambda stream: event_terminated_sessions(
            stream,
            key="user_id",
            ts="ts",
            end_marker=F.col("event_type") == "error",
            watermark_delay="1 hour",
            timeout_ms=60 * 60 * 1000,
        ),
        prefix="q153",
    )
    return (
        sunk.filter(F.col("key") >= 0)
        .select(
            "key",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "ended_by",
        )
    )


_Q153_SQL = """
WITH X AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_end
  FROM events
), S AS (
  SELECT user_id, ts, is_end,
         COALESCE(sum(is_end) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid
  FROM X
)
SELECT user_id AS key,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(is_end) AS BIGINT) AS ended_by
FROM S
GROUP BY user_id, sid
"""


# --------------------------------------------------------------- q149
def q149_stream_static_enrich_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, executed: the click stream picks up
    each user's (batch-computed) purchase profile through a broadcast
    join — the standard dimension-attach shape for streams.  Stateless,
    so no watermark and no withheld tail: every micro-batch emits
    complete rows, and the dim side is re-read per batch (on a real
    pipeline that is what makes slowly-changing dims visible
    mid-stream).  The stream side never shuffles.  Staging / drain /
    memory sink live in ``run_streaming_gate`` (stateless → no
    sentinel)."""
    from ..streaming.enrich import enrich_stream
    from ..streaming.gate import run_streaming_gate

    e = load(spark, sf_dir, "events")
    profile = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(cents(F.col("value"))).alias("__cents"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    sunk = run_streaming_gate(
        spark,
        [(clicks, None)],
        lambda stream: enrich_stream(stream, profile, on="user_id", how="left"),
        prefix="q149",
    )
    return sunk.select(
        "event_id",
        "user_id",
        F.coalesce("n_purchases", F.lit(0)).cast("bigint").alias("n_purchases"),
        (F.coalesce("__cents", F.lit(0)) / 100.0).alias("purchase_total"),
    )


_Q149_SQL = """
WITH P AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_purchases,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT c.event_id, c.user_id,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       COALESCE(p.cents, 0) / 100.0 AS purchase_total
FROM events c LEFT JOIN P p USING (user_id)
WHERE c.event_type = 'click'
"""


_Q130_SQL = """
WITH x AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), y AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM x
), z AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS session_id
  FROM y
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM z
GROUP BY user_id, session_id
"""


_Q14_SQL = """
WITH x AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), y AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM x
), z AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS session_id
  FROM y
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM z
GROUP BY 1, 2
"""


# --------------------------------------------------------------- q103
def q103_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with staleness bound (``pandas.merge_asof
    tolerance`` semantics, and the batch twin of a state-TTL stream
    join): each click attaches the user's latest prior purchase ONLY
    if it happened within the last 6 hours — older state is treated
    as expired and the attach is NULL.  Same single-shuffle
    union+window rewrite as q06; the bound rides the window fill as
    one extra column."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("recent_purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        probe_ts="ts",
        state_ts="ts",
        value_cols=["recent_purchase_value"],
        tolerance="6 HOURS",
    )


_Q103_SQL = """
SELECT c.user_id, c.event_id AS click_id, c.ts,
       CASE WHEN p.ts >= c.ts - INTERVAL 6 HOUR THEN p.value END
         AS recent_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# --------------------------------------------------------------- q203
def q203_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL LIVE CONNECTOR LOOP, hash-gated end-to-end (VERDICT r8
    item 7, the last connector seam): a recorded trade tape served
    through a wire-format REPLAY endpoint → the REST poller stream
    source (cursor offsets, inclusive-end slices, pagination, Arrow
    wire parse — ``streaming/source.py``) → projection → the REST
    sink's 2-phase paged-POST + per-batch manifest protocol
    (``sources/sink.py``) → read the LANDED records back → reference
    D5 bar construction (q02's exact shape) over what actually landed.

    The oracle computes the same bars straight from ``events``, so the
    hash gate proves conservation through the whole loop: every served
    trade landed exactly once (a drop or a replayed page would change
    volume/vwap), and ``manifest_rows`` — the sum over committed
    per-batch manifests — must equal the table count on every row.

    Scale shape: the replay endpoint + tape build are the API
    STAND-IN (the world side; capacity models the external API, and
    the real deployment points the same unchanged plumbing at the
    real endpoint).  The engine side is the scale path: the poller
    fetches bounded event-time slices per micro-batch, pages are
    Arrow batches, the sink posts bounded pages per partition, and
    bar construction is the q02 partial-agg shuffle."""
    import tempfile

    from ..sources import register_all
    from ..sources.replay import CaptureSink, ReplayTradesServer
    from ..streaming.source import StockTradesStreamDataSource

    register_all(spark)
    spark.dataSource.register(StockTradesStreamDataSource)
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "value")
        # a trade without a price cannot be served as a trade: the
        # tape carries only priced events (oracle: WHERE value IS NOT
        # NULL), same contract as bar construction
        .filter(F.col("value").isNotNull())
    )
    # Tape build is the API STAND-IN boundary (the recorded tape a real
    # deployment would already hold server-side), so it legitimately
    # materializes on the driver — but over the Arrow path (toPandas),
    # not row-at-a-time collect: ~6× faster at 100k rows and the same
    # naive-UTC microsecond timestamps (session tz is UTC).
    pdf = ev.toPandas()
    tape = list(
        zip(
            ("U" + pdf["user_id"].astype(str)).tolist(),
            # datetime64[us] → naive python datetimes (exact: the
            # parquet column is µs-granular)
            pdf["ts"].to_numpy().astype("datetime64[us]").tolist(),
            pdf["value"].tolist(),
            (1,) * len(pdf),
            pdf["event_id"].tolist(),
        )
    )
    import pandas as pd

    if not tape:
        # empty tape: nothing to serve, nothing to land — skip the
        # loop and run the SAME landed-bar pipeline on an empty frame
        # (one source of truth for the output schema; total on empty
        # input like every other query)
        landed_pdf = pd.DataFrame(
            {"symbol": [], "time": [], "price": [], "id": []}
        )
        return _q203_landed_bars(spark, landed_pdf, manifest_rows=0)
    symbols = ",".join(sorted({t[0] for t in tape}))
    lo = min(t[1] for t in tape)
    hi = max(t[1] for t in tape)
    from datetime import timedelta, timezone as _tz

    start_iso = lo.replace(tzinfo=_tz.utc).isoformat()
    end_iso = (hi + timedelta(microseconds=1)).replace(tzinfo=_tz.utc).isoformat()
    with ReplayTradesServer(tape) as api, CaptureSink() as sink:
        stream = (
            spark.readStream.format("Alpaca_Stocks_Trades_Stream")
            .options(
                **{
                    "APCA-API-KEY-ID": "replay",
                    "APCA-API-SECRET-KEY": "replay",
                },
                endpoint=api.endpoint,
                symbols=symbols,
                start=start_iso,
                end=end_iso,
                # ~5 micro-batches over the 30-day tape; sf0.1+ slices
                # span multiple 10k-row pages, so pagination + cursor
                # resume are both on the executed path
                poll_interval=str(7 * 86400),
            )
            .load()
            .select("symbol", "time", "price", "size", "id")
        )
        ckpt = tempfile.mkdtemp(prefix="q203_ckpt_")
        q = (
            stream.writeStream.format("Rest_Batch_Sink")
            .options(endpoint=sink.endpoint, batch_size=5000)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        landed_pdf = pd.DataFrame(
            {
                "symbol": [r["symbol"] for r in sink.records],
                "time": [r["time"] for r in sink.records],
                "price": [float(r["price"]) for r in sink.records],
                "id": [int(r["id"]) for r in sink.records],
            }
        )
        manifest_rows = sink.committed_rows()
    return _q203_landed_bars(spark, landed_pdf, manifest_rows=manifest_rows)


def _q203_landed_bars(spark, landed_pdf, *, manifest_rows: int) -> DataFrame:
    """q203's read-back leg: D5 bar construction (``tumbling_bars``,
    as q02) over what actually LANDED, plus the conservation column."""
    # Arrow-path createDataFrame (pandas in, not 100k Python tuples)
    landed = spark.createDataFrame(
        landed_pdf, "symbol string, time string, price double, id bigint"
    )
    # ISO(+00:00) → UTC wall time, the tape's original naive ts
    t = landed.select(
        "symbol",
        F.col("time").cast("timestamp").cast("timestamp_ntz").alias("ts"),
        F.col("price").alias("p"),
    )
    return (
        tumbling_bars(t, key="symbol", ts="ts", price="p", interval="1 day")
        .withColumn("manifest_rows", F.lit(int(manifest_rows)).cast("bigint"))
    )


_Q203_SQL = """
WITH t AS (
  SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol, ts, value
  FROM events WHERE value IS NOT NULL
)
SELECT symbol,
       time_bucket(INTERVAL '1 day', ts) AS bar_start,
       arg_min(value, ts)  AS open,
       max(value)          AS high,
       min(value)          AS low,
       arg_max(value, ts)  AS close,
       CAST(count(*) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS trade_count,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS vwap,
       CAST((SELECT count(*) FROM events WHERE value IS NOT NULL) AS BIGINT)
         AS manifest_rows
FROM t
GROUP BY 1, 2
"""


QUERIES = {
    "q01_scan_filter_project": q01_scan_filter_project,
    "q02_bars_tumbling": q02_bars_tumbling,
    "q03_interval_join_agg": q03_interval_join_agg,
    "q205_interval_agg_decomposed": q205_interval_agg_decomposed,
    "q04_sort_limit_topk": q04_sort_limit_topk,
    "q05_groupby_rollup": q05_groupby_rollup,
    "q06_asof_join": q06_asof_join,
    "q07_adjustment": q07_adjustment,
    "q07_adjustment_split": q07_adjustment_split,
    "q07_adjustment_all": q07_adjustment_all,
    "q08_setops_dedup": q08_setops_dedup,
    "q09_scalar_funcs": q09_scalar_funcs,
    "q10_semi_anti": q10_semi_anti,
    "q11_exact_distinct": q11_exact_distinct,
    "q11_approx_distinct": q11_approx_distinct,
    "q14_stream_session": q14_stream_session,
    "q130_streaming_sessions_executed": q130_streaming_sessions_executed,
    "q131_streaming_dedup_executed": q131_streaming_dedup_executed,
    "q145_streaming_outer_join_executed": q145_streaming_outer_join_executed,
    "q146_streaming_hourly_windows_executed": q146_streaming_hourly_windows_executed,
    "q181_streaming_bars_executed": q181_streaming_bars_executed,
    "q149_stream_static_enrich_executed": q149_stream_static_enrich_executed,
    "q153_stateful_sessions_executed": q153_stateful_sessions_executed,
    "q103_asof_tolerance": q103_asof_tolerance,
    "q203_connector_roundtrip": q203_connector_roundtrip,
}

ORACLE = {
    "q01_scan_filter_project": _Q01_SQL,
    "q02_bars_tumbling": _Q02_SQL,
    "q03_interval_join_agg": _Q03_SQL,
    "q205_interval_agg_decomposed": _Q03_SQL,
    "q04_sort_limit_topk": _Q04_SQL,
    "q05_groupby_rollup": _Q05_SQL,
    "q06_asof_join": _Q06_SQL,
    "q07_adjustment": _Q07_SQL,
    "q07_adjustment_split": _Q07_SPLIT_SQL,
    "q07_adjustment_all": _Q07_ALL_SQL,
    "q08_setops_dedup": _Q08_SQL,
    "q09_scalar_funcs": _Q09_SQL,
    "q10_semi_anti": _Q10_SQL,
    "q11_exact_distinct": _Q11_SQL,
    "q14_stream_session": _Q14_SQL,
    "q130_streaming_sessions_executed": _Q130_SQL,
    "q131_streaming_dedup_executed": _Q131_SQL,
    "q145_streaming_outer_join_executed": _Q145_SQL,
    "q146_streaming_hourly_windows_executed": _Q146_SQL,
    "q181_streaming_bars_executed": _Q181_SQL,
    "q149_stream_static_enrich_executed": _Q149_SQL,
    "q153_stateful_sessions_executed": _Q153_SQL,
    "q103_asof_tolerance": _Q103_SQL,
    "q203_connector_roundtrip": _Q203_SQL,
}
