"""TPC-H join-graph breadth (q94-q101, q110-q113): the multi-dimension
join shapes — Q10 returned-revenue, Q12 late-shipment buckets, Q14
promo share, Q15 top supplier, Q7 nation-pair flows, Q9 profit rollup,
Q8 market share, Q5 local-supplier revenue, Q2 cheapest-supplier
argmin, Q4 EXISTS priority counts — adapted to the driver's
synthetic star schema (no partsupp/shipmode/commitdate columns; each
docstring notes the adaptation).

Exactness (COVERAGE.md): revenue/cost accumulate as integer
cent-percent (e4) units, counts as BIGINT; ratios are computed as
integer-scaled numerators divided once — or as a division of two
bigint→double casts, which round identically (nearest) on both
engines.  GROUP BY keys include years as BIGINT.

Reference parity: the reference delegates post-scan relational work
to Spark SQL (/root/reference/USAGE.md:259-280); this module pins the
dimensional-join breadth of that surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..tables import load


def _disc_e4() -> F.Column:
    return cents(F.col("l_extendedprice")) * (
        F.lit(100) - cents(F.col("l_discount"))
    )


# ---------------------------------------------------------------- q94
def q94_returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter.  lineitem is filtered on the return flag at the scan;
    orders carries the date predicate; customer and nation attach by
    broadcast after the fact side has aggregated down to custkeys.
    The join order Catalyst picks (fact filtered → orders → customer
    → nation) never shuffles a dimension."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_disc_e4()).alias("rev_e4"))
    )
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_mktsegment",
            (F.col("rev_e4") / 10000.0).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q94_SQL = """
SELECT c_custkey, c_name, n_name, c_mktsegment,
       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT o_custkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
) r
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------- q95
def q95_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column: lateness = shipped more
    than 90 days after order date).  One join orders⋈lineitem, then a
    conditional aggregation by order priority: high/low line counts
    via count_if — partial-aggregated, one exchange of |priorities|
    rows."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count_if(late & high).alias("late_high_count"),
            F.count_if(late & ~high).alias("late_low_count"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


_Q95_SQL = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 90 DAY
            AND o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT)
         AS late_high_count,
       CAST(count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 90 DAY
            AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT)
         AS late_low_count,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------- q96
def q96_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: PROMO parts' share of one month's revenue.  Part is
    broadcast; both the promo-conditional and total revenue come from
    ONE aggregation (count_if-style conditional sum), so the fact
    table is scanned and joined once.  The share multiplies the
    conditional sum by 100 IN INTEGERS before the single division —
    no >2^53 double products."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    e4 = _disc_e4()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", e4).otherwise(F.lit(0))).alias(
                "__promo_e4"
            ),
            F.sum(e4).alias("__total_e4"),
        )
        .select(
            ((F.col("__promo_e4") * 100) / F.col("__total_e4").cast("double")).alias(
                "promo_share_pct"
            ),
            (F.col("__total_e4") / 10000.0).alias("total_revenue"),
        )
    )


_Q96_SQL = """
SELECT CAST(promo_e4 * 100 AS DOUBLE) / CAST(total_e4 AS DOUBLE)
         AS promo_share_pct,
       CAST(total_e4 AS DOUBLE) / 10000.0 AS total_revenue
FROM (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS promo_e4,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate < TIMESTAMP '1997-10-01'
)
"""


# ---------------------------------------------------------------- q97
def q97_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) whose quarterly revenue equals the
    maximum.  The per-supplier aggregate is computed once; the max is
    an empty-frame window over it (one tiny single-partition pass on
    |suppliers| rows — at real scale swap for a broadcast scalar
    join, shape pinned in q83's test).  Integer e4 compare means ties
    are exact, as Q15's view-based original requires."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_disc_e4()).alias("rev_e4"))
    mx = rev.agg(F.max("rev_e4").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.rev_e4 == mx.__mx, "left_semi")
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", (F.col("rev_e4") / 10000.0).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


_Q97_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------- q98
def q98_nation_pair_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year, in both
    directions.  The fact row's two dimension paths (customer-nation
    via orders, supplier-nation direct) are resolved by broadcast
    joins; the nation-pair filter lands before the aggregate, so the
    exchange carries (nation, nation, year) groups only."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cust_n = n.select(
        F.col("n_nationkey").alias("__cnk"), F.col("n_name").alias("cust_nation")
    )
    supp_n = n.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7")
    ) | ((F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("__cnk"))
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("__snk"))
        .filter(pair)
        .groupBy(
            "cust_nation", "supp_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
        )
        .agg((F.sum(_disc_e4()) / 10000.0).alias("revenue"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


_Q98_SQL = """
SELECT cust_nation, supp_nation, l_year,
       CAST(sum(e4) AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS e4
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE (cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
     OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3')
)
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------- q99
def q99_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp: cost = quantity x part retail
    price).  Profit = disc revenue minus cost, both in e4 units,
    aggregated by supplier nation x ship year.  part and nation
    broadcast; ONE fact exchange carrying (nation, year) partials."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    cost_e4 = qty * cents(F.col("p_retailprice")) * 100
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(((F.sum(_disc_e4() - cost_e4)) / 10000.0).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_Q99_SQL = """
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                - CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(p_retailprice * 100) AS BIGINT) * 100)
            AS DOUBLE) / 10000.0 AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------- q100
def q100_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5 suppliers' share of revenue from EUROPE
    customers, by order year.  Share = conditional-sum / total-sum of
    the same aggregation — one fact pass; the x100 scaling happens in
    integers before the single division."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cust_eur = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_n = n.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    )
    e4 = _disc_e4()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_eur), o.o_custkey == cust_eur.c_custkey, "left_semi")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("__snk"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", e4).otherwise(F.lit(0))).alias("__n5_e4"),
            F.sum(e4).alias("__tot_e4"),
        )
        .select(
            "o_year",
            ((F.col("__n5_e4") * 100) / F.col("__tot_e4").cast("double")).alias(
                "mkt_share_pct"
            ),
            (F.col("__tot_e4") / 10000.0).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


_Q100_SQL = """
SELECT o_year,
       CAST(n5_e4 * 100 AS DOUBLE) / CAST(tot_e4 AS DOUBLE) AS mkt_share_pct,
       CAST(tot_e4 AS DOUBLE) / 10000.0 AS total_revenue
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         sum(CASE WHEN sn.n_name = 'NATION_5'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS n5_e4,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS tot_e4
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
  )
  GROUP BY 1
)
ORDER BY o_year
"""


# --------------------------------------------------------------- q101
def q101_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from orders where customer and supplier sit
    in the same ASIA nation, by nation.  The same-nation predicate is
    a post-join equality on two broadcast-resolved dimension keys;
    region prunes nation before anything touches the fact table."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    asia_n = (
        n.join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg((F.sum(_disc_e4()) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q101_SQL = """
SELECT n_name, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY 1
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------- q110
def q110_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp: a supplier's offer price for a
    part = its minimum observed line price).  For every LARGE-type
    part, pick the supplier with the cheapest offer (exact integer
    argmin, supplier key as tiebreak) and attach supplier + nation.

    The offer table is ONE partial-aggregated exchange over the fact
    side; the per-part argmin is a lexicographic ``min`` over
    ``struct(offer_cents, l_suppkey)`` — a deterministic total order
    with NO domain assumption on the supplier key space (an earlier
    packed-integer form, ``offer*1024 + suppkey``, silently corrupted
    the argmin once l_suppkey ≥ 1024); both engines order structs by
    field position, and the aggregate stays partial-aggregatable (no
    correlated-subquery re-scan, which is how Q2 is written in the
    spec); dimensions broadcast."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    price_cents = cents(F.col("l_extendedprice"))
    # offers come from PRICED lines only: an all-NULL (part, supp)
    # group would put a NULL field into the argmin struct, whose
    # ordering is engine-specific (oracle carries the same WHERE)
    offers = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(price_cents).alias("offer_cents"))
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min(F.struct("offer_cents", "l_suppkey")).alias("__m"))
        .select(
            "l_partkey",
            F.col("__m.l_suppkey").alias("best_suppkey"),
            F.col("__m.offer_cents").alias("offer_cents"),
        )
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(s, best.best_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("best_suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            (F.col("offer_cents") / 100.0).alias("best_price"),
        )
        .orderBy("p_partkey")
    )


_Q110_SQL = """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS offer_cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
), best AS (
  SELECT l_partkey,
         min({'offer_cents': offer_cents, 'l_suppkey': l_suppkey}) AS m
  FROM offers GROUP BY 1
)
SELECT p_partkey, p_name, m.l_suppkey AS s_suppkey, s_name, n_name,
       CAST(m.offer_cents AS DOUBLE) / 100.0 AS best_price
FROM best
JOIN part ON l_partkey = p_partkey
JOIN supplier ON m.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'LARGE'
ORDER BY p_partkey
"""


# --------------------------------------------------------------- q111
def q111_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders per priority that had at least one late line
    (shipped >60 days after ordering).  The EXISTS decorrelates to a
    broadcast LEFT SEMI probe of the late-line order keys — the
    orders side never rescans lineitem per row, and the semi build is
    pre-aggregated to distinct keys map-side."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    late = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey")
        .distinct()
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q111_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o.o_orderkey
      AND l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------- q112
def q112_discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast-revenue from the discount band — one year,
    discounts of 5-7%, quantity under 24.  Pure scan-side predicates
    (all three reach PushedFilters) and a single global sum of
    cents x pct integers: the minimal full-scan aggregate, the
    I/O-bound lower bound every other fact query sits above."""
    li = load(spark, sf_dir, "lineitem")
    dpct = cents(F.col("l_discount"))
    qty = F.round(F.col("l_quantity")).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .filter(dpct.between(5, 7) & (qty < 24))
        .agg(
            (F.sum(cents(F.col("l_extendedprice")) * dpct) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q112_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
         / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND CAST(round(l_quantity) AS BIGINT) < 24
"""


# --------------------------------------------------------------- q113
def q113_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp: supply relationships come from
    observed lineitems): distinct supplier count per (brand, size)
    for non-PROMO parts, excluding negative-balance suppliers (the
    "customer complaints" NOT IN of the original).

    The exclusion list is a broadcast ANTI join probing distinct
    (partkey, suppkey) pairs — one fact exchange, already distinct,
    then the count-distinct re-aggregates by (brand, size)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    rel = li.select("l_partkey", "l_suppkey").distinct()
    return (
        rel.join(F.broadcast(bad), rel.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), rel.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


_Q113_SQL = """
SELECT p_brand, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


QUERIES = {
    "q94_returned_revenue_customers": q94_returned_revenue_customers,
    "q95_late_shipment_priority": q95_late_shipment_priority,
    "q96_promo_revenue_share": q96_promo_revenue_share,
    "q97_top_supplier": q97_top_supplier,
    "q98_nation_pair_flows": q98_nation_pair_flows,
    "q99_profit_by_nation": q99_profit_by_nation,
    "q100_market_share": q100_market_share,
    "q101_local_supplier_revenue": q101_local_supplier_revenue,
    "q110_cheapest_supplier": q110_cheapest_supplier,
    "q111_priority_late_orders": q111_priority_late_orders,
    "q112_discount_band_revenue": q112_discount_band_revenue,
    "q113_supplier_diversity": q113_supplier_diversity,
}

ORACLE = {
    "q94_returned_revenue_customers": _Q94_SQL,
    "q95_late_shipment_priority": _Q95_SQL,
    "q96_promo_revenue_share": _Q96_SQL,
    "q97_top_supplier": _Q97_SQL,
    "q98_nation_pair_flows": _Q98_SQL,
    "q99_profit_by_nation": _Q99_SQL,
    "q100_market_share": _Q100_SQL,
    "q101_local_supplier_revenue": _Q101_SQL,
    "q110_cheapest_supplier": _Q110_SQL,
    "q111_priority_late_orders": _Q111_SQL,
    "q112_discount_band_revenue": _Q112_SQL,
    "q113_supplier_diversity": _Q113_SQL,
}
