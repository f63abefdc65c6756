"""Data-mining / warehouse-hardening coverage (q77+): mergeable exact
distinct via bitmaps, blocked fuzzy matching, Markov transition
matrices, skyline (pareto-frontier) queries, algebraic grouped
regression, and the remaining TPC-H shapes (Q21 sole-late-shipper,
Q11 value-share threshold).

Every query is oracle-exact (COVERAGE.md "Exactness strategy"):
integer cents, integer day offsets, integer edit distances, bitmap
counts (exact by construction), and fixed float-op tails where a
double output is required.

Reference parity notes: the reference engine (tnixon/alpaca-pyspark)
delegates all post-scan relational work to Spark
(/root/reference/README.md:96-117); these queries pin down that
delegated surface over the driver's synthetic tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cents
from ..operators.dispatch import table_at_least
from ..operators.topk import top_k_per_group
from ..tables import load


# ---------------------------------------------------------------- q77
def q77_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable EXACT distinct counts via bitmap aggregates (the
    exact sibling of q46's HLL rollup): daily per-type user bitmaps
    (``bitmap_construct_agg``) are OR-merged into weekly bitmaps
    (``bitmap_or_agg``) and counted — the weekly rollup never rescans
    the fact table, and unlike HLL the merge loses nothing.  The
    bitmap key space is sharded by ``bitmap_bucket_number`` so one
    group's bitmap is bounded at 4 KB regardless of the id range —
    the continuous-aggregate pattern for exact COUNT(DISTINCT) at
    100 TB.  Oracle: plain exact COUNT(DISTINCT) per week."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.date_trunc("WEEK", F.col("ts")).alias("week_start"),
            F.date_trunc("DAY", F.col("ts")).alias("__day"),
            F.bitmap_bucket_number(F.col("user_id")).alias("__bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("__pos"),
        )
        # week_start rides along as a grouping key (functionally
        # determined by __day): the weekly partial OR then runs
        # map-side directly on the daily aggregate's output, so only
        # the first exchange carries fact-table volume (as partial
        # bitmaps); the rollup exchanges move |groups| rows.
        .groupBy("event_type", "week_start", "__day", "__bucket")
        .agg(F.bitmap_construct_agg(F.col("__pos")).alias("__bm"))
    )
    weekly = daily.groupBy("event_type", "week_start", "__bucket").agg(
        F.bitmap_or_agg(F.col("__bm")).alias("__bm")
    )
    return (
        weekly.groupBy("event_type", "week_start")
        .agg(F.sum(F.bitmap_count(F.col("__bm"))).alias("n_users"))
    )


_Q77_SQL = """
SELECT event_type,
       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q78
def q78_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity-resolution core): candidate
    pairs of distinct part names restricted by a cheap blocking key
    (shared first character) plus a length-band filter — edit
    distance ≤ 3 forces ``|len(a)-len(b)| ≤ 3``, so a band of ±2 with
    the equi-join block keeps the pair space near-linear instead of
    O(n²) — then exact Levenshtein (identical DP integers on both
    engines) on the survivors only.  The name-dimension self-join is
    broadcast (distinct names ≪ facts)."""
    names = (
        load(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("__block", F.substring("name", 1, 1))
    )
    a = names.alias("a")
    b = names.alias("b")
    cond = (
        (F.col("a.__block") == F.col("b.__block"))
        & (F.col("a.name") < F.col("b.name"))
        & (
            F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
            <= F.lit(2)
        )
    )
    return (
        a.join(F.broadcast(b), cond)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
    )


_Q78_SQL = """
WITH n AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist
FROM n a JOIN n b
  ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
 AND a.name < b.name
 AND abs(length(a.name) - length(b.name)) <= 2
WHERE levenshtein(a.name, b.name) <= 3
"""


# ---------------------------------------------------------------- q79
def q79_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: per-user
    event sequences (ts order, event_id tiebreak) → ``lag`` pairs →
    global (prev, next) counts → row-normalized probability.  One
    shuffle on user_id for the sequence window; the count aggregate
    and the |types|² normalization window run on vanishingly small
    data.  The probability is one BIGINT/BIGINT double division —
    exact parity."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(row_total)).alias("p"),
    )


_Q79_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type)
                                AS DOUBLE) AS p
FROM counts
"""


# ---------------------------------------------------------------- q80
def q80_brand_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (pareto frontier) per brand: parts not dominated by any
    same-brand part that is ≤ in size and ≥ in price (strict in at
    least one).  Two window maxima express dominance exactly: the
    best price among STRICTLY smaller sizes (RANGE frame ending at
    1 PRECEDING — DuckDB's default RANGE differs on ties, so the
    frame is explicit) and the best price within the same size.
    Partitioned by brand, the sort is distributed; prices compare as
    integer cents."""
    p = load(spark, sf_dir, "part")
    retail_cents = cents(F.col("p_retailprice"))
    w_smaller = (
        Window.partitionBy("p_brand")
        .orderBy("p_size")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "p_size")
    scored = p.select(
        "p_brand",
        "p_partkey",
        "p_size",
        "p_retailprice",
        retail_cents.alias("__c"),
    ).select(
        "*",
        F.max("__c").over(w_smaller).alias("__best_smaller"),
        F.max("__c").over(w_same).alias("__best_same"),
    )
    return scored.filter(
        (F.col("__best_smaller").isNull() | (F.col("__best_smaller") < F.col("__c")))
        & (F.col("__c") == F.col("__best_same"))
    ).select("p_brand", "p_partkey", "p_size", "p_retailprice")


_Q80_SQL = """
WITH scored AS (
  SELECT p_brand, p_partkey, p_size, p_retailprice,
         CAST(round(p_retailprice * 100) AS BIGINT) AS c,
         max(CAST(round(p_retailprice * 100) AS BIGINT))
           OVER (PARTITION BY p_brand ORDER BY p_size
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_smaller,
         max(CAST(round(p_retailprice * 100) AS BIGINT))
           OVER (PARTITION BY p_brand, p_size) AS best_same
  FROM part
)
SELECT p_brand, p_partkey, p_size, p_retailprice
FROM scored
WHERE (best_smaller IS NULL OR best_smaller < c) AND c = best_same
"""


# ---------------------------------------------------------------- q81
def q81_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS (the built-in ``regr_slope`` family, done exactly):
    per event type, regress value-cents on day offset using the
    algebraic sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulated
    as integers — DECIMAL(38,0) on the Spark side, HUGEINT in DuckDB,
    so the normal-equation numerator/denominator are exact and the
    slope/intercept are a fixed 4-float-op tail.  Single map-side-
    combinable aggregate (q27 is the pandas-UDF sibling; this one
    never leaves whole-stage codegen)."""
    e = load(spark, sf_dir, "events")
    x = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    y = cents(F.col("value"))
    dec = "decimal(38,0)"
    stats = (
        e.select("event_type", x.alias("__x"), y.alias("__y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("__n"),
            F.sum("__x").cast(dec).alias("__sx"),
            F.sum("__y").cast(dec).alias("__sy"),
            F.sum(F.col("__x") * F.col("__y")).cast(dec).alias("__sxy"),
            F.sum(F.col("__x") * F.col("__x")).cast(dec).alias("__sxx"),
        )
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    den = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    slope = num / den
    return stats.select(
        "event_type",
        F.col("__n").cast("bigint").alias("n"),
        slope.alias("slope_cents_per_day"),
        (
            (F.col("__sy").cast("double") - slope * F.col("__sx").cast("double"))
            / F.col("__n").cast("double")
        ).alias("intercept_cents"),
    )


_Q81_SQL = """
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS BIGINT)) AS HUGEINT)
           AS sx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sxy,
         CAST(sum(CAST(date_diff('day', DATE '2024-01-01',
                                 CAST(ts AS DATE)) AS BIGINT)
                  * CAST(date_diff('day', DATE '2024-01-01',
                                   CAST(ts AS DATE)) AS BIGINT)) AS HUGEINT)
           AS sxx
  FROM events
  GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents
FROM stats
"""


# ---------------------------------------------------------------- q82
def q82_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (sole late shipper): suppliers whose shipment
    was late (> 45 days after order date) on orders involving at
    least one OTHER supplier, where NO other supplier was late — an
    EXISTS plus a NOT EXISTS, both correlated with an inequality on
    the inner supplier.  Decorrelated the scalable way: the (order,
    supplier, late) table is computed ONCE and the per-order
    supplier/late counts are unordered COUNT windows over it, so the
    EXISTS pair becomes an integer predicate (``n_supp ≥ 2 AND
    n_late = 1``) with no self-join — one fact-table scan, no
    correlated re-evaluation (a join-back formulation would plan the
    pairs subtree twice: DataFrame plans are trees, not DAGs).
    Top-10 by count with the unique name as tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").alias("sk"),
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
            ).alias("late"),
        )
        .groupBy("ok", "sk")
        .agg(F.max("late").alias("late"))
    )
    per_order = Window.partitionBy("ok")
    sole = (
        pairs.select(
            "ok",
            "sk",
            "late",
            F.count(F.lit(1)).over(per_order).alias("n_supp"),
            F.count_if(F.col("late")).over(per_order).alias("n_late"),
        )
        .filter(F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        sole.join(F.broadcast(s), sole.sk == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


_Q82_SQL = """
WITH pairs AS (
  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
         max(l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM pairs p1
JOIN supplier s ON p1.sk = s.s_suppkey
WHERE p1.late
  AND EXISTS (SELECT 1 FROM pairs p2
              WHERE p2.ok = p1.ok AND p2.sk <> p1.sk)
  AND NOT EXISTS (SELECT 1 FROM pairs p3
                  WHERE p3.ok = p1.ok AND p3.sk <> p1.sk AND p3.late)
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# ---------------------------------------------------------------- q83
def q83_revenue_share_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (value-share threshold): per-part revenue kept
    only when it exceeds the average part's share of GLOBAL revenue —
    a scalar subquery over the whole fact table.  The global total is
    a one-row aggregate broadcast into the per-part filter (no
    single-partition window), and the threshold compare is
    all-integer (``rev · n_parts > total``) — no division until the
    displayed revenue.  Revenue in exact cents·(100−disc_pct)."""
    li = load(spark, sf_dir, "lineitem")
    price_cents = cents(F.col("l_extendedprice"))
    disc_pct = cents(F.col("l_discount"))
    rev = (price_cents * (F.lit(100) - disc_pct)).alias("__r")
    per_part = (
        li.select(F.col("l_partkey").alias("partkey"), rev)
        .groupBy("partkey")
        .agg(F.sum("__r").alias("__rev"))
    )
    total = per_part.agg(
        F.sum("__rev").alias("__total"), F.count(F.lit(1)).alias("__nparts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__rev") * F.col("__nparts") > F.col("__total"))
        .select(
            "partkey",
            (F.col("__rev") / 10000.0).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("partkey"))
    )


_Q83_SQL = """
WITH per_part AS (
  SELECT l_partkey AS partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev
  FROM lineitem
  GROUP BY 1
)
SELECT partkey, CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM per_part
WHERE rev * (SELECT count(*) FROM per_part) > (SELECT sum(rev) FROM per_part)
ORDER BY revenue DESC, partkey
"""


# --------------------------------------------------------------- q102
#: Dispatch floor for the grouped-quantile decomposition (q102/q106),
#: crossover-interpolated from a measured W/D curve on synthetic
#: lineitem-shaped data (AB_r12_qfloor.json; noop-sink forced, arms
#: alternated in one JVM, tier outputs equality-checked at every size;
#: re-run with ``tools/floor_sweep.py quantile``): the window tier
#: wins 7x at sf0.1's 600k rows (AB_r12_quantiles.json) and 0.70x at
#: 2M, ties at ~2.8M
#: (log-linear), and LOSES 2.4x at 6M, 4.9x at 20M, 7.1x at 60M for
#: q102 (q106 crosses below 2M) — percentile/running-sum windows
#: buffer the whole group in ONE task per return flag (join-only AQE
#: cannot split it), and past ~1M rows/group that straggler dominates
#: the decomposition's ~15 small sequential stages.  Both tiers are
#: bit-identical (tests/test_quantiles.py; parity re-checked at
#: 2M/6M/20M/60M in the A/B), so a mis-sided floor near the tie point
#: costs seconds, never correctness.  The row count is footer
#: metadata (dispatch.table_at_least) — no per-query probe job,
#: and the same number a catalog/metastore serves for free at scale.
QUANTILE_DECOMPOSE_MIN_TABLE_ROWS = 3_000_000


def q102_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profiling: flag prices more than 1.5 MADs
    (median absolute deviation) from their return-flag group's median.

    Both medians are EXACT percentiles over integer cents, so the
    interpolated midpoints are exact halves/quarters in binary and
    the two engines agree bit-for-bit (probe-verified); the only
    inexact op is the final 4.4478*mad product, computed identically
    on identical doubles.

    Plan (round 12, guide §2.5): the one-window formulation — two
    sequential ``percentile().over(partitionBy(l_returnflag))``
    windows — buffers the whole fact table in THREE tasks (one per
    return flag), the unsplittable-straggler shape AQE cannot help
    (skew handling is join-only).  Past the dispatch floor the query
    decomposes through ``operators.quantiles``: ONE fully parallel
    ``groupBy(flag, cents)`` pass builds a value-counts table
    (near-unique prices, so it is ~fact-table-sized, but the exchange
    spreads over hash(flag, cents) instead of hash(flag)); both
    medians come from sqrt-range bucket rank-selection on it (every
    window partition ≤ ~sqrt(value range) ≈ 3–45k rows regardless of
    group size); the deviation counts and the final outlier counts
    derive from the SAME persisted counts table — the fact table is
    scanned once.  Bit-identical to the window formulation (integer
    cumulatives select the same middle values; Spark's Percentile
    interpolation arithmetic is replayed exactly —
    tests/test_quantiles.py pins parity on ties, NULLs, odd/even
    counts and single rows).  Below the floor the window tier runs —
    at bench scale the decomposition's ~15 extra sequential stages
    cost 7x more than they save (AB_r12_quantiles.json), the same
    trade every other skew dispatch in the engine makes."""
    li = load(spark, sf_dir, "lineitem")
    if table_at_least(sf_dir, "lineitem", QUANTILE_DECOMPOSE_MIN_TABLE_ROWS):
        return _q102_decomposed(li)
    return _q102_window(li)


def _q102_window(li: DataFrame) -> DataFrame:
    price_cents = cents(F.col("l_extendedprice"))
    w = Window.partitionBy("l_returnflag")
    d = (
        li.select("l_returnflag", price_cents.alias("__c"))
        .withColumn("__med", F.percentile("__c", F.lit(0.5)).over(w))
        .withColumn("__dev", F.abs(F.col("__c") - F.col("__med")))
        .withColumn("__mad", F.percentile("__dev", F.lit(0.5)).over(w))
    )
    return (
        d.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_if(F.col("__dev") > F.lit(1.5) * F.col("__mad")).alias(
                "n_outliers"
            ),
            (F.max("__med") / 100.0).alias("median_price"),
            (F.max("__mad") / 100.0).alias("mad_price"),
        )
        .orderBy("l_returnflag")
    )


def _q102_decomposed(li: DataFrame) -> DataFrame:
    from ..operators.quantiles import grouped_median_cont
    from ..session import scoped_persist

    price_cents = cents(F.col("l_extendedprice"))
    flag = F.col("l_returnflag")
    counts = scoped_persist(
        li.select("l_returnflag", price_cents.alias("__c"))
        .groupBy("l_returnflag", "__c")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # med has TWO consumers (the deviation derivation and the final
    # broadcast) — persist the 3-row result so the rank-selection
    # pipeline executes once, not once per broadcast subtree
    med = scoped_persist(
        grouped_median_cont(
            counts, key="l_returnflag", value="__c", cnt="__cnt", out="__med"
        )
    )
    devc = scoped_persist(
        counts.filter(F.col("__c").isNotNull())
        .join(
            F.broadcast(med.select(flag.alias("__mk"), "__med")),
            flag.eqNullSafe(F.col("__mk")),
        )
        # dev doubles are exact halves: carry them as 2*dev BIGINTs so
        # the MAD rank-selection stays in exact integer arithmetic
        .select(
            "l_returnflag",
            F.abs(
                F.lit(2) * F.col("__c") - (F.col("__med") * 2).cast("bigint")
            ).alias("__d2"),
            "__cnt",
        )
        .groupBy("l_returnflag", "__d2")
        .agg(F.sum("__cnt").alias("__dcnt"))
    )
    mad2 = grouped_median_cont(
        devc, key="l_returnflag", value="__d2", cnt="__dcnt", out="__m2"
    )
    mm = F.broadcast(
        med.join(
            F.broadcast(
                mad2.select(
                    flag.alias("__ak"), (F.col("__m2") * 0.5).alias("__mad")
                )
            ),
            flag.eqNullSafe(F.col("__ak")),
        ).select(flag.alias("__gk"), "__med", "__mad")
    )
    dev = F.abs(F.col("__c") - F.col("__med"))
    return (
        counts.join(mm, flag.eqNullSafe(F.col("__gk")), "left")
        .groupBy("l_returnflag")
        .agg(
            F.sum("__cnt").alias("n_items"),
            F.sum(
                F.when(dev > F.lit(1.5) * F.col("__mad"), F.col("__cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers"),
            (F.max("__med") / 100.0).alias("median_price"),
            (F.max("__mad") / 100.0).alias("mad_price"),
        )
        .orderBy("l_returnflag")
    )


_Q102_SQL = """
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), m AS (
  SELECT l_returnflag, quantile_cont(cents, 0.5) AS med
  FROM c GROUP BY 1
), d AS (
  SELECT c.l_returnflag, cents, med, abs(cents - med) AS dev
  FROM c JOIN m USING (l_returnflag)
), md AS (
  SELECT l_returnflag, quantile_cont(dev, 0.5) AS mad
  FROM d GROUP BY 1
)
SELECT d.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(count(*) FILTER (dev > 1.5 * mad) AS BIGINT) AS n_outliers,
       max(med) / 100.0 AS median_price,
       max(mad) / 100.0 AS mad_price
FROM d JOIN md USING (l_returnflag)
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- q104
def q104_merkle_block_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation (the Merkle-tree primitive behind
    replica repair / cross-region dataset sync): fingerprint each
    1000-order block of lineitem with an order-independent XOR of
    portable row hashes, fingerprint a drifted replica the same way,
    and report only the divergent blocks — the repair then rescans
    those blocks alone, never the full table.

    The row hash is engine-portable integer arithmetic (mod-2^40
    mixing — NOT xxhash, which the oracle engine lacks); bit_xor is
    commutative/associative, so partial aggregation works and the
    exchange carries one row per block.  The synthetic replica drifts
    deterministically: every line of orders ending in 7 mod 1000 has
    its price bumped one cent."""
    M = 1 << 40
    li = load(spark, sf_dir, "lineitem")

    def fingerprint(df, bump):
        price_cents = cents(F.col("l_extendedprice")) + bump
        fp = (
            (F.col("l_orderkey") % M) * 1000003
            + F.col("l_linenumber").cast("bigint") * 97
            + price_cents
        ) % M
        return (
            df.select(
                (F.col("l_orderkey") / 1000).cast("bigint").alias("block"),
                fp.alias("__fp"),
            )
            .groupBy("block")
            .agg(
                F.expr("bit_xor(__fp)").alias("block_fp"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    base = fingerprint(li, F.lit(0))
    drift = F.when(F.col("l_orderkey") % 1000 == 7, F.lit(1)).otherwise(F.lit(0))
    replica = fingerprint(li, drift)
    return (
        base.alias("b")
        .join(replica.alias("r"), "block", "full_outer")
        .filter(
            (F.col("b.block_fp") != F.col("r.block_fp"))
            | F.col("b.block_fp").isNull()
            | F.col("r.block_fp").isNull()
        )
        .select(
            "block",
            F.col("b.n_rows").alias("base_rows"),
            F.col("r.n_rows").alias("replica_rows"),
        )
        .orderBy("block")
    )


_Q104_SQL = """
WITH base AS (
  SELECT l_orderkey // 1000 AS block,
         bit_xor(((l_orderkey % 1099511627776) * 1000003
                  + l_linenumber * 97
                  + CAST(round(l_extendedprice * 100) AS BIGINT))
                 % 1099511627776) AS block_fp,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
), replica AS (
  SELECT l_orderkey // 1000 AS block,
         bit_xor(((l_orderkey % 1099511627776) * 1000003
                  + l_linenumber * 97
                  + CAST(round(l_extendedprice * 100) AS BIGINT)
                  + CASE WHEN l_orderkey % 1000 = 7 THEN 1 ELSE 0 END)
                 % 1099511627776) AS block_fp,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(b.block, r.block) AS block,
       b.n_rows AS base_rows,
       r.n_rows AS replica_rows
FROM base b FULL OUTER JOIN replica r USING (block)
WHERE b.block_fp IS DISTINCT FROM r.block_fp
ORDER BY block
"""


# --------------------------------------------------------------- q106
def q106_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median (no Spark/DuckDB built-in): the
    quantity-weighted median price per return flag — the smallest
    price whose running weight reaches half the group total.

    The selection (oracle SQL unchanged): order by (price, unique
    tiebreak), running sum of integer weights, the first row with
    ``2*cum >= total`` per group.  All integers until the final /100
    — both engines execute the identical selection, so the oracle
    matches bit-for-bit.

    Plan (round 12, guide §2.5): the one-window running sum ships the
    whole fact table to one task per return flag (a parallelism-3
    straggler at scale, join-only AQE can't split it).  The answer
    only depends on VALUE-GROUP running weights — the within-value
    tiebreak never changes which value crosses, so ``min(c) over hit
    rows == min c with 2*W(c) >= tot`` where W is cumulative weight by
    value.  Past the dispatch floor: one parallel ``groupBy(flag,
    cents)`` weight-sum pass, then sqrt-range bucket rank-selection
    (``operators.quantiles.grouped_weighted_median``; every window
    partition ≤ ~sqrt(value range) rows).  Bit-identical — integer
    cumulatives, same crossing (tests/test_quantiles.py pins parity
    incl. ties, zero weights, degenerate groups; q209 forces this
    tier against the SAME DuckDB oracle).  Weights are non-negative
    by the column's physical meaning (round(l_quantity)); monotone
    running totals are what make the crossing unique.  Below the
    floor the window tier runs (stage-count trade, see q102)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    if table_at_least(sf_dir, "lineitem", QUANTILE_DECOMPOSE_MIN_TABLE_ROWS):
        return _q106_decomposed(li)
    return _q106_window(li)


def _q106_window(li: DataFrame) -> DataFrame:
    # weighted median ignores rows missing the value OR the weight
    # (aggregate NULL contract; the running sum and the sort are
    # engine-portable only over non-NULL integers — oracle same WHERE;
    # the filter is applied by the caller)
    price_cents = cents(F.col("l_extendedprice"))
    wgt = F.round(F.col("l_quantity")).cast("bigint")
    base = li.select(
        "l_returnflag",
        price_cents.alias("__c"),
        wgt.alias("__w"),
        "l_orderkey",
        "l_linenumber",
    )
    ow = (
        Window.partitionBy("l_returnflag")
        .orderBy("__c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gw = Window.partitionBy("l_returnflag")
    hit = (
        base.withColumn("__cum", F.sum("__w").over(ow))
        .withColumn("__tot", F.sum("__w").over(gw))
        .filter(F.col("__cum") * 2 >= F.col("__tot"))
    )
    return (
        hit.groupBy("l_returnflag")
        .agg(
            (F.min("__c") / 100.0).alias("weighted_median_price"),
            F.max("__tot").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


def _q106_decomposed(li: DataFrame) -> DataFrame:
    from ..operators.quantiles import grouped_weighted_median
    from ..session import scoped_persist

    price_cents = cents(F.col("l_extendedprice"))
    wgt = F.round(F.col("l_quantity")).cast("bigint")
    counts = scoped_persist(
        li.select("l_returnflag", price_cents.alias("__c"), wgt.alias("__w"))
        .groupBy("l_returnflag", "__c")
        .agg(F.sum("__w").alias("__wm"))
    )
    wm = grouped_weighted_median(
        counts, key="l_returnflag", value="__c", wsum="__wm"
    )
    return wm.select(
        "l_returnflag",
        (F.col("__wv") / 100.0).alias("weighted_median_price"),
        F.col("__tot").alias("total_weight"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------- q209
def q209_weighted_median_decomposed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q106's weighted median FORCED through the sqrt-range
    rank-selection decomposition (``operators/quantiles.py``), against
    the IDENTICAL DuckDB oracle — the q208 pattern: the gate fixtures
    sit below the quantile dispatch floor (3M rows), so the adaptive
    dispatch alone would never route a gate row into the decomposed
    tier, and only the driver's independent oracle build can pin it.
    Exercises the full rank-selection machinery end to end: per-key
    value bounds, sqrt bucketing, the spine prefix crossing, the
    within-bucket selection, null-safe key joins, and the zero-weight
    degenerate path.  (q102's decomposed tier reuses exactly this
    machinery via grouped_median_cont; its interpolation and
    2*dev-integer arithmetic are pinned by tests/test_quantiles.py.)"""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    return _q106_decomposed(li)


_Q106_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(round(l_quantity) AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), cum AS (
  SELECT l_returnflag, c, w,
         sum(w) OVER (PARTITION BY l_returnflag
                      ORDER BY c, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM base
)
SELECT l_returnflag,
       CAST(min(c) AS DOUBLE) / 100.0 AS weighted_median_price,
       CAST(max(tot) AS BIGINT) AS total_weight
FROM cum WHERE cum * 2 >= tot
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- q125
def q125_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics: triangle counting on the co-order part graph
    (parts are connected when ordered together at least twice — the
    support-2 floor is the standard market-basket noise gate and the
    scale guard: it prunes the one-off pair tail before any join).

    Classic edge-ordered algorithm: undirected edges stored once as
    (a < b); wedges come from E ⋈ E on the middle node (a<b<c holds by
    construction, so every triangle is generated exactly once); a
    final semi-shaped join against E closes (a, c).  No node ever
    sees a direction-doubled edge list and no pair is counted twice —
    at 100 TB-scale graphs the remaining skew risk is high-degree
    middle nodes, which the support floor bounds here (the general
    fix is degree-ordered orientation: orient each edge from the
    lower-degree endpoint, which caps wedge fan-out at O(sqrt(|E|))
    per node).

    All counts are integers; output is one row (n_edges, n_wedges,
    n_triangles)."""
    li = load(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("pa", "pb")
        # edges feed multiple join branches: checkpoint computes the
        # heavy co-order self-join once and truncates lineage
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa")).select(
        F.col("e1.pa").alias("x"), F.col("e1.pb").alias("y"), F.col("e2.pb").alias("z")
    )
    triangles = wedges.join(
        e3, (F.col("x") == F.col("e3.pa")) & (F.col("z") == F.col("e3.pb"))
    )
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(triangles.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


_Q125_SQL = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), w AS (
  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM w JOIN e ON w.x = e.pa AND w.z = e.pb) AS n_triangles
"""


# --------------------------------------------------------------- q121
def q121_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift change-point detection per event type: the
    event where the cumulative deviation from the series mean peaks —
    the classic single-change-point estimator (argmax |S_i| of the
    centered cumulative sum), used for drift detection on metric
    streams.

    Exactness: with v in integer centi-units, N = count and
    T = Σv per type, the centered cumsum is kept mean-free WITHOUT a
    division by accumulating ``S_i = Σ_{j≤i} (N·v_j − T)`` — pure
    BIGINT, order-pinned by (ts, event_id), so the argmax and its
    tiebreak (earliest event on equal |S|) are bit-deterministic on
    both engines.  Magnitudes: |N·v| ≤ N·max(v); the running sum stays
    under 2^63 through ~1e8 rows/type at these value ranges, past
    that the accumulator moves to DECIMAL(38,0) with the same plan.

    Scale shape: one exchange keyed by event_type; BOTH window passes
    (cumsum, argmax rank) and the grouped totals share that single
    partitioning, so Spark plans exactly one shuffle and two sorts —
    no self-join, no second scan of events."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        cents(F.col("value")).alias("v_centi"),
    )
    per_type = Window.partitionBy("event_type")
    ordered = per_type.orderBy("ts", "event_id")
    cum = e.select(
        "event_id",
        "ts",
        "event_type",
        F.count(F.lit(1)).over(per_type).alias("n_events"),
        F.sum("v_centi").over(per_type).alias("total_centi"),
        "v_centi",
    ).withColumn(
        "s_i",
        F.sum(
            F.col("n_events") * F.col("v_centi") - F.col("total_centi")
        ).over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        top_k_per_group(
            cum,
            group_by=["event_type"],
            order_by=[F.abs(F.col("s_i")).desc(), F.col("ts"), F.col("event_id")],
            k=1,
        )
        .select(
            "event_type",
            F.col("event_id").alias("cp_event_id"),
            F.col("ts").alias("cp_ts"),
            F.abs(F.col("s_i")).alias("max_abs_s"),
            "n_events",
        )
    )


_Q121_SQL = """
WITH base AS (
  SELECT event_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS v_centi,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY event_type) AS BIGINT) AS total_centi
  FROM events
), cum AS (
  SELECT event_id, ts, event_type, n_events,
         sum(n_events * v_centi - total_centi)
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS s_i
  FROM base
)
SELECT event_type,
       event_id AS cp_event_id,
       ts AS cp_ts,
       CAST(abs(s_i) AS BIGINT) AS max_abs_s,
       n_events
FROM cum
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY abs(s_i) DESC, ts, event_id) = 1
"""


# --------------------------------------------------------------- q147
def q147_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on q125's co-order part
    graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how tightly each
    part's neighborhood interlocks (the node-level community signal
    where q125's one-row census is global).  Triangles enumerate once
    under the a<b<c orientation, then fan out to their three corners
    for the per-node tally; degree streams both endpoints of the
    once-stored edge list.  Integer counts, one final division; the
    support-2 edge floor is the same scale guard as q125."""
    li = load(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("pa", "pb")
        # edges feed multiple join branches: checkpoint computes the
        # heavy co-order self-join once and truncates lineage
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa")).select(
        F.col("e1.pa").alias("x"), F.col("e1.pb").alias("y"), F.col("e2.pb").alias("z")
    )
    triangles = wedges.join(
        e3, (F.col("x") == F.col("e3.pa")) & (F.col("z") == F.col("e3.pb"))
    ).select("x", "y", "z")
    tri_per_node = (
        triangles.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            (
                (F.lit(2) * F.coalesce("n_tri", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double")
            ).alias("cc"),
        )
    )


_Q147_SQL = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
), t AS (
  SELECT w.x, w.y, w.z
  FROM (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM e e1 JOIN e e2 ON e1.pb = e2.pa) w
  JOIN e ON w.x = e.pa AND w.z = e.pb
), tn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT unnest([x, y, z]) AS node FROM t)
  GROUP BY 1
), d AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
  GROUP BY 1
)
SELECT d.node, d.degree, COALESCE(tn.n_tri, 0) AS n_tri,
       CAST(2 * COALESCE(tn.n_tri, 0) AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS cc
FROM d LEFT JOIN tn USING (node)
WHERE d.degree >= 2
"""


QUERIES = {
    "q77_bitmap_distinct_rollup": q77_bitmap_distinct_rollup,
    "q147_clustering_coefficient": q147_clustering_coefficient,
    "q78_fuzzy_name_pairs": q78_fuzzy_name_pairs,
    "q79_transition_matrix": q79_transition_matrix,
    "q80_brand_skyline": q80_brand_skyline,
    "q81_grouped_regression": q81_grouped_regression,
    "q82_sole_late_shipper": q82_sole_late_shipper,
    "q83_revenue_share_threshold": q83_revenue_share_threshold,
    "q102_mad_outliers": q102_mad_outliers,
    "q104_merkle_block_diff": q104_merkle_block_diff,
    "q106_weighted_median": q106_weighted_median,
    "q121_cusum_changepoint": q121_cusum_changepoint,
    "q125_triangle_count": q125_triangle_count,
    "q209_weighted_median_decomposed": q209_weighted_median_decomposed,
}

ORACLE = {
    "q77_bitmap_distinct_rollup": _Q77_SQL,
    "q147_clustering_coefficient": _Q147_SQL,
    "q78_fuzzy_name_pairs": _Q78_SQL,
    "q79_transition_matrix": _Q79_SQL,
    "q80_brand_skyline": _Q80_SQL,
    "q81_grouped_regression": _Q81_SQL,
    "q82_sole_late_shipper": _Q82_SQL,
    "q83_revenue_share_threshold": _Q83_SQL,
    "q102_mad_outliers": _Q102_SQL,
    "q104_merkle_block_diff": _Q104_SQL,
    "q106_weighted_median": _Q106_SQL,
    "q121_cusum_changepoint": _Q121_SQL,
    "q125_triangle_count": _Q125_SQL,
    # q209 must land on rows BIT-IDENTICAL to q106 — same oracle SQL
    "q209_weighted_median_decomposed": _Q106_SQL,
}
