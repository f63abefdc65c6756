"""Scale-hardening surface: skew-salted aggregation, pivot/unpivot.

These close the last delegated-relational gaps (SURVEY.md §2F) with the
shapes that survive 100 TB: heavy-hitter aggregation that spreads hot
keys over many reducers, and wide<->long reshaping that stays in one
shuffle.  Exactness strategy as in core.py: money math in exact
integer cents, one final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..operators.salted import salted_aggregate
from ..tables import load


# ---------------------------------------------------------------- q34
def q34_salted_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter aggregation done skew-proof: lineitem has only 3
    distinct ``l_returnflag`` values, so a naive ``groupBy`` funnels
    ~1/3 of the table into each of 3 reducers no matter how many
    executors exist.  The salted two-phase plan spreads each hot key
    over 32 reducers, then re-aggregates 96 partial rows.  Results are
    bit-identical to the naive plan (integer-cents partials are
    order-insensitive)."""
    li = load(spark, sf_dir, "lineitem")
    revenue_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return salted_aggregate(
        li,
        keys=["l_returnflag"],
        salt_on=["l_orderkey", "l_linenumber"],
        partial_aggs={
            "qty_c": F.sum(cents(F.col("l_quantity"))),
            "rev_c": F.sum(revenue_cents),
            "cnt": F.count(F.lit(1)),
        },
        final_aggs={
            "sum_qty": F.sum("qty_c") / 100.0,
            "revenue": F.sum("rev_c") / 100.0,
            "n_rows": F.sum("cnt"),
            "avg_qty": F.sum("qty_c") / (100.0 * F.sum("cnt")),
        },
        salt_parts=32,
    )


_Q34_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS avg_qty
FROM lineitem
GROUP BY 1
"""


# --------------------------------------------------------------- q155
def q155_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof JOIN (q34 is the salted AGGREGATE): lineitem joins a
    per-returnflag dimension on a 3-value key — maximal skew, every
    row is a hot key.  ``salted_join`` replicates the build side
    ``salt_parts`` times and scatters each hot probe key across
    reducers by a deterministic salt from non-key columns, so no
    single reducer owns a whole key.  (A 3-row dim would normally
    broadcast — AQE does that here at runtime; the operator is for
    build sides too big to broadcast but small enough to replicate,
    and this query pins its correctness under the exact gate.)
    Result == the plain join by construction."""
    from ..operators.salted import salted_join

    li = load(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_label", F.concat(F.lit("flag_"), F.col("l_returnflag")))
    )
    joined = salted_join(
        li.select("l_returnflag", "l_orderkey", "l_extendedprice", "l_discount"),
        dim,
        on=["l_returnflag"],
        salt_on=["l_orderkey"],
        salt_parts=8,
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return joined.groupBy("flag_label").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum(rev) / 100.0).alias("revenue"),
    )


_Q155_SQL = """
SELECT 'flag_' || l_returnflag AS flag_label,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------- q35
def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide reshape: shipped quantity per ship-year pivoted over
    the return flag.  Explicit pivot values keep it one pass / one
    shuffle (without them Spark runs an extra distinct job to discover
    the columns — an avoidable full scan at 100 TB)."""
    li = load(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(cents(F.col("l_quantity"))))
    )
    return wide.select(
        "ship_year",
        (F.col("A") / 100.0).alias("qty_a"),
        (F.col("N") / 100.0).alias("qty_n"),
        (F.col("R") / 100.0).alias("qty_r"),
    )


_Q35_SQL = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CASE WHEN l_returnflag = 'A'
                     THEN CAST(round(l_quantity * 100) AS BIGINT) END)
            AS DOUBLE) / 100.0 AS qty_a,
       CAST(sum(CASE WHEN l_returnflag = 'N'
                     THEN CAST(round(l_quantity * 100) AS BIGINT) END)
            AS DOUBLE) / 100.0 AS qty_n,
       CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN CAST(round(l_quantity * 100) AS BIGINT) END)
            AS DOUBLE) / 100.0 AS qty_r
FROM lineitem
GROUP BY 1
"""


# ---------------------------------------------------------------- q36
def q36_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshape (``unpivot``/melt): the four lineitem
    measures as (measure, value) rows, aggregated per return flag.
    One projection + one shuffle; the melt itself is a zero-shuffle
    codegen expand."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_returnflag",
        cents(F.col("l_quantity")).alias("quantity"),
        cents(F.col("l_extendedprice")).alias("extendedprice"),
        cents(F.col("l_discount")).alias("discount"),
        cents(F.col("l_tax")).alias("tax"),
    )
    long = wide.unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure",
        "cents",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        (F.sum("cents") / 100.0).alias("total"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_Q36_SQL = """
WITH long AS (
  SELECT l_returnflag, 'quantity' AS measure,
         CAST(round(l_quantity * 100) AS BIGINT) AS cents FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice',
         CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount',
         CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax',
         CAST(round(l_tax * 100) AS BIGINT) FROM lineitem
)
SELECT l_returnflag, measure,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS total,
       CAST(count(*) AS BIGINT) AS n_rows
FROM long
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q40
def q40_range_join_no_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join: clicks landing inside global outage windows
    (2 h after each severe error event).  Without an equality key Spark
    would plan BroadcastNestedLoopJoin — O(points x intervals); the
    bucketed rewrite quantizes time, explodes each window onto its ~2
    covering buckets, and equi-joins on the bucket id (hash join, plan
    asserted nested-loop-free)."""
    from ..operators.rangejoin import bucketed_range_join

    e = load(spark, sf_dir, "events")
    windows = e.filter(
        (F.col("event_type") == "error") & (F.col("value") > 190)
    ).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    clicks = e.filter(F.col("event_type") == "click").select("ts", "user_id")
    joined = bucketed_range_join(
        clicks, windows, ts="ts", start="w_start", end="w_end", bucket_seconds=7200
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.countDistinct("user_id").alias("n_users"),
    )


_Q40_SQL = """
WITH w AS (
  SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
  FROM events WHERE event_type = 'error' AND value > 190
),
c AS (SELECT ts, user_id FROM events WHERE event_type = 'click')
SELECT window_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM w JOIN c ON c.ts >= w.w_start AND c.ts < w.w_end
GROUP BY 1
"""


# --------------------------------------------------------------- q128
def q128_stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering WITHOUT the single-partition window:
    documents ranked by (n_chars, doc_id) via the range-partition +
    per-partition-offset pattern (``operators/ids.py``).  A bare
    ``row_number() OVER (ORDER BY ...)`` funnels the whole table
    through ONE task; this shape is a distributed sort plus a
    |partitions|-row driver exchange, and produces the bit-identical
    numbering (the oracle IS the single-partition window, which DuckDB
    can afford at test scale)."""
    from ..operators.ids import assign_stable_ids

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return assign_stable_ids(docs, ["n_chars", "doc_id"], id_col="row_id")


_Q128_SQL = """
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS row_id
FROM documents
"""


# --------------------------------------------------------------- q132
def q132_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path fidelity under the zero-tolerance gate: orders are
    written as hive-partitioned parquet (partitionBy order priority —
    the engine's standard sink layout), read back from disk, and
    aggregated; the oracle aggregates the SOURCE directly.  Any row
    loss, duplication, type drift, or partition-key corruption in the
    write→read cycle breaks the exact compare.

    At scale this is the nightly-compaction invariant: a relayout
    (partitioned write) must be bit-neutral to every downstream
    aggregate."""
    import tempfile

    o = load(spark, sf_dir, "orders")
    dest = tempfile.mkdtemp(prefix="q132_sink_")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dest)
    # read back with the WRITER's schema: no inference job over file
    # footers, and the round-trip stays total when the written slice
    # is EMPTY (no part files to infer from — routine for a backfill
    # of an empty partition)
    back = spark.read.schema(o.schema).parquet(dest)
    total_cents = cents(F.col("o_totalprice"))
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(total_cents) / 100.0).alias("total_price"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


_Q132_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey
FROM orders
GROUP BY 1
"""


QUERIES = {
    "q34_salted_heavy_hitters": q34_salted_heavy_hitters,
    "q155_salted_skew_join": q155_salted_skew_join,
    "q128_stable_row_ids": q128_stable_row_ids,
    "q132_sink_roundtrip": q132_sink_roundtrip,
    "q35_pivot": q35_pivot,
    "q36_unpivot": q36_unpivot,
    "q40_range_join_no_key": q40_range_join_no_key,
}

ORACLE = {
    "q34_salted_heavy_hitters": _Q34_SQL,
    "q155_salted_skew_join": _Q155_SQL,
    "q128_stable_row_ids": _Q128_SQL,
    "q132_sink_roundtrip": _Q132_SQL,
    "q35_pivot": _Q35_SQL,
    "q36_unpivot": _Q36_SQL,
    "q40_range_join_no_key": _Q40_SQL,
}
