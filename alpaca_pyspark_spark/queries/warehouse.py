"""Remaining classic warehouse shapes (q84-q88): the TPC-H query
forms not yet pinned by earlier modules — Q1 pricing summary, Q18
large-volume orders, Q19 disjunctive-predicate join, Q20 nested
share-of-total semi-join, Q22 anti-join against a scalar average.

Every query is oracle-exact (COVERAGE.md "Exactness strategy"):
money accumulates as integer cents, discount/tax as integer percent
(inputs are percent-quantized), quantities as integers; the only
float ops are final divisions on identical integer operands, so both
engines produce bit-identical doubles.

Reference parity: the reference engine delegates all post-scan
relational work to Spark SQL (/root/reference/USAGE.md:259-280);
these queries pin down the aggregate/join breadth of that delegated
surface over the driver's synthetic TPC-H-ish tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..tables import load


# ---------------------------------------------------------------- q84
def q84_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical full-scan aggregate.
    One pass over lineitem, hash aggregation on a 4-ish-group key —
    partial aggregation means the exchange carries |groups| rows, not
    the fact table, so the shape is scan-bound at any scale.

    Exactness: disc_price = cents x (100 - disc_pct) accumulates in
    e4 units (cent-percent), charge in e6 units — integer sums are
    order-independent; each output is ONE final division.  At 100 TB
    the e6 sums approach int64 range (~1e11/row x 1e9 rows): swap the
    accumulator to DECIMAL(38,0) (same plan shape, Spark's decimal
    sum is still partial-aggregated); at bench scale int64 is exact
    and faster."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    qty = F.round(F.col("l_quantity")).cast("bigint")
    price_cents = cents(F.col("l_extendedprice"))
    dpct = cents(F.col("l_discount"))
    tpct = cents(F.col("l_tax"))
    disc_e4 = price_cents * (F.lit(100) - dpct)
    charge_e6 = disc_e4 * (F.lit(100) + tpct)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_cents) / 100.0).alias("sum_base_price"),
            (F.sum(disc_e4) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_e6) / 1000000.0).alias("sum_charge"),
            (F.sum(qty) / F.count(F.lit(1)).cast("double")).alias("avg_qty"),
            (F.sum(price_cents) / (100.0 * F.count(F.lit(1)))).alias("avg_price"),
            (F.sum(dpct) / (100.0 * F.count(F.lit(1)))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q84_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS sum_disc_price,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE)
         / 1000000.0 AS sum_charge,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS avg_price,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * count(*)) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------- q85
def q85_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume orders: orders whose total quantity
    exceeds 300, joined back to customer.  The HAVING aggregate runs
    FIRST and is partial-aggregated (the exchange carries one row per
    order); the survivors (~0.1% of orders) then drive the
    orders/customer joins, so the big side is filtered before any
    join shuffle.  AQE turns both joins into broadcasts at this
    survivor cardinality."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            (cents(F.col("o_totalprice")) / 100.0).alias(
                "o_total"
            ),
            "total_qty",
        )
        .orderBy(F.col("o_total").desc(), "o_orderdate", "o_orderkey")
    )


_Q85_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100.0
         AS o_total,
       total_qty
FROM (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1 HAVING total_qty > 300
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_total DESC, o_orderdate, o_orderkey
"""


# ---------------------------------------------------------------- q86
def q86_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue over a part-lineitem join whose
    predicate is an OR of three brand/size/quantity clause bundles.
    Catalyst extracts the common equi-key (partkey) for the join and
    pushes the disjunction's per-side implications (size range, qty
    range) into the scans; part is broadcast.  The OR never forces a
    nested loop — check tests/test_plans.py."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 15)) & (qty >= 1) & (qty <= 20))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size").between(10, 30)) & (qty >= 10) & (qty <= 30))
        | ((F.col("p_brand") == "Brand#33") & (F.col("p_size").between(20, 50)) & (qty >= 20) & (qty <= 40))
    )
    disc_e4 = cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))
    return joined.filter(clause).agg(
        (F.sum(disc_e4) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q86_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
         / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 40)
"""


# ---------------------------------------------------------------- q87
def q87_dominant_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (share-of-total nested aggregation): supplier
    names that shipped more than a fifth of some part's total quantity.
    The fact table is touched by exactly ONE partial-aggregated
    exchange (per-(part, supplier) sums); the per-part total is a
    window over that already-aggregated table — its exchange moves
    |part x supplier| compact rows, never raw lineitem, and there is
    no self-join.  The supplier attach is a broadcast semi-probe at
    dimension size."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    from pyspark.sql import Window

    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("sup_qty"))
    w = Window.partitionBy("l_partkey")
    dominant = (
        per_ps.withColumn("part_qty", F.sum("sup_qty").over(w))
        .filter(F.col("sup_qty") * 5 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q87_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT l_partkey, l_suppkey,
           sum(CAST(round(l_quantity) AS BIGINT)) AS sup_qty,
           sum(sum(CAST(round(l_quantity) AS BIGINT)))
             OVER (PARTITION BY l_partkey) AS part_qty
    FROM lineitem GROUP BY 1, 2
  ) WHERE sup_qty * 5 > part_qty
)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------- q88
def q88_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    order since 2000, summarized per market segment.  The global
    average is a one-row broadcast (scalar subquery); the lapsed test
    is an anti-join probing the date-filtered custkey set (the filter
    is pushed to the orders scan before the join builds).  The balance
    compare happens against avg = sum_cents/(100*cnt) — both engines
    divide the same integers, so the double threshold is
    bit-identical."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    bal_cents = cents(F.col("c_acctbal"))
    avg_row = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.sum(bal_cents) / (100.0 * F.count(F.lit(1)))).alias("__avg"))
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    rich = (
        c.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum(bal_cents) / 100.0).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


_Q88_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_acctbal
FROM customer
WHERE c_acctbal > (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*))
        FROM customer WHERE c_acctbal > 0.0
      )
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------- q127
def q127_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse QA: referential-integrity audit across every FK edge
    of the schema in one result — orphan keys (fact references a
    missing dimension row) and childless keys (dimension row no fact
    ever references).

    Scale shape: each fact table collapses to its DISTINCT key set
    FIRST (one partial-aggregated exchange carrying |keys| rows, not
    fact rows); orphans/childless are then key-set anti-join counts on
    those compact sets — the audit never joins fact-sized data.  At
    100 TB this is the difference between a constraint check and a
    second copy of the warehouse."""

    def keyset(table: str, col: str):
        # each keyset feeds BOTH the orphan and the childless side —
        # localCheckpoint materializes the distinct once and truncates
        # lineage, so no fact table is ever scanned twice per edge
        return (
            load(spark, sf_dir, table)
            .select(F.col(col).alias("k"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    edges = [
        ("orders->customer", keyset("orders", "o_custkey"), keyset("customer", "c_custkey")),
        ("lineitem->orders", keyset("lineitem", "l_orderkey"), keyset("orders", "o_orderkey")),
        ("lineitem->part", keyset("lineitem", "l_partkey"), keyset("part", "p_partkey")),
        ("lineitem->supplier", keyset("lineitem", "l_suppkey"), keyset("supplier", "s_suppkey")),
    ]
    out = None
    for name, fact_keys, dim_keys in edges:
        orphan = fact_keys.join(dim_keys, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphan_keys")
        )
        childless = dim_keys.join(fact_keys, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("n_childless_keys")
        )
        row = (
            orphan.crossJoin(childless)
            .select(
                F.lit(name).alias("relationship"),
                "n_orphan_keys",
                "n_childless_keys",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


_Q127_SQL = """
SELECT 'orders->customer' AS relationship,
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT o_custkey AS k FROM orders) f
        WHERE k NOT IN (SELECT c_custkey FROM customer)) AS n_orphan_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT c_custkey AS k FROM customer) d
        WHERE k NOT IN (SELECT o_custkey FROM orders)) AS n_childless_keys
UNION ALL
SELECT 'lineitem->orders',
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT l_orderkey AS k FROM lineitem) f
        WHERE k NOT IN (SELECT o_orderkey FROM orders)),
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT o_orderkey AS k FROM orders) d
        WHERE k NOT IN (SELECT l_orderkey FROM lineitem))
UNION ALL
SELECT 'lineitem->part',
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT l_partkey AS k FROM lineitem) f
        WHERE k NOT IN (SELECT p_partkey FROM part)),
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT p_partkey AS k FROM part) d
        WHERE k NOT IN (SELECT l_partkey FROM lineitem))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT l_suppkey AS k FROM lineitem) f
        WHERE k NOT IN (SELECT s_suppkey FROM supplier)),
       (SELECT CAST(count(*) AS BIGINT) FROM
         (SELECT DISTINCT s_suppkey AS k FROM supplier) d
        WHERE k NOT IN (SELECT l_suppkey FROM lineitem))
"""


# --------------------------------------------------------------- q150
def q150_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write → partition-PRUNED read, under
    the hash gate: events land partitioned by type, the read-back
    filter resolves to a partition-directory prune (the scan lists one
    directory out of five — at 100 TB the difference between touching
    20 TB and 100 TB before the first row is read), and the daily
    revenue rollup must equal the straight-SQL answer.  Doubles
    survive the parquet round-trip bit-exactly; money still
    accumulates as integer cents."""
    import tempfile

    e = load(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="q150_store_")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # writer-schema read-back: no inference, total on an empty write
    back = (
        spark.read.schema(e.schema)
        .parquet(out)
        .filter(F.col("event_type") == "purchase")
    )
    return back.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(cents(F.col("value"))) / 100.0
        ).alias("revenue"),
    )


_Q150_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS revenue
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


# --------------------------------------------------------------- q154
def q154_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent backfill via DYNAMIC partition overwrite, verified
    end-to-end: events land day-partitioned, then one bad day is
    re-landed corrected (its error rows dropped) with
    ``partitionOverwriteMode=dynamic`` — ONLY that day's directory is
    replaced, the other 29 days' files are untouched (the difference
    between rewriting 3 TB and 100 TB on every correction), and a
    replayed backfill converges to the same state instead of
    appending duplicates.  The read-back daily rollup must equal the
    corrected table."""
    import tempfile

    e = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = tempfile.mkdtemp(prefix="q154_store_")
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    bad_day = "2024-01-15"
    fixed = e.filter(
        (F.col("day") == F.lit(bad_day).cast("date"))
        & (F.col("event_type") != "error")
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    # writer-schema read-back: no inference, total on an empty write
    back = spark.read.schema(e.schema).parquet(out)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_type").cast("bigint").alias("n_types"),
    )


_Q154_SQL = """
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-15' AND event_type = 'error')
GROUP BY 1
"""


# --------------------------------------------------------------- q161
def q161_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (CDC apply) without a table format: a base
    snapshot (per-user purchase totals over the first 20 days) absorbs
    a changelog derived from the tail 10 days — ``purchase`` rows are
    upserts that ADD to the balance, a trailing ``error`` row is a
    tombstone that deletes the user.  Resolution order: aggregate the
    changelog per key first (one exchange, latest-op wins via max-ts
    tombstone check), then ONE full-outer join against the base —
    never a per-change row lookup, which is the difference between a
    merge that scales and row-at-a-time CDC.  Tombstoned users vanish
    even if they exist only in the changelog."""
    e = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-21 00:00:00").cast("timestamp_ntz")
    value_cents = cents(F.col("value"))
    base = (
        e.filter((F.col("ts") < cut) & (F.col("event_type") == "purchase"))
        .groupBy("user_id")
        .agg(F.sum(value_cents).alias("__base_c"))
    )
    tail = e.filter(F.col("ts") >= cut)
    changes = tail.filter(F.col("event_type").isin("purchase", "error")).groupBy(
        "user_id"
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", value_cents)).alias(
            "__delta_c"
        ),
        # tombstone iff the LATEST change op for the key is an error
        F.max_by(F.col("event_type") == "error", F.col("ts")).alias("__dead"),
    )
    merged = base.join(changes, "user_id", "full_outer")
    return (
        merged.filter(~F.coalesce(F.col("__dead"), F.lit(False)))
        .select(
            "user_id",
            (
                (F.coalesce("__base_c", F.lit(0)) + F.coalesce("__delta_c", F.lit(0)))
                / 100.0
            ).alias("balance"),
        )
    )


_Q161_SQL = """
WITH base AS (
  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS base_c
  FROM events
  WHERE ts < TIMESTAMP '2024-01-21 00:00:00' AND event_type = 'purchase'
  GROUP BY 1
), changes AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) END) AS delta_c,
         arg_max(event_type = 'error', ts) AS dead
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
    AND event_type IN ('purchase', 'error')
  GROUP BY 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       (COALESCE(b.base_c, 0) + COALESCE(c.delta_c, 0)) / 100.0 AS balance
FROM base b FULL OUTER JOIN changes c USING (user_id)
WHERE NOT COALESCE(c.dead, false)
"""


# --------------------------------------------------------------- q159
def q159_csv_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw CSV ingest with corrupt-record quarantine, end-to-end under
    the hash gate: documents are re-serialized as CSV with every
    ``doc_id % 11 == 0`` row deliberately type-corrupted, read back
    PERMISSIVE with an explicit schema, and forked into clean /
    quarantine streams (``split_corrupt`` owns the SPARK-21610 cache
    barrier).  Clean counts per source plus the quarantine total must
    equal the deterministic corruption pattern — bad rows are COUNTED,
    never silently dropped or crashed on, which is the ingest contract
    at 100 TB where some malformed lines are a statistical certainty."""
    import tempfile

    from ..sources.files import read_csv, split_corrupt
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = load(spark, sf_dir, "documents")
    # NULL fields serialize as EMPTY CSV fields (read back as NULL).
    # concat_ws would SKIP a NULL instead — silently shifting every
    # later column left, which is row corruption, not serialization
    # (null-stress gate)
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.coalesce(F.col("source"), F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit("xx")).otherwise(
                F.coalesce(F.col("n_chars").cast("string"), F.lit(""))
            ),
        ).alias("value")
    )
    src = tempfile.mkdtemp(prefix="q159_csv_")
    lines.write.mode("overwrite").text(src)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    raw = read_csv(spark, src, schema, header=False)
    clean, quarantine = split_corrupt(raw)
    good = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    bad = quarantine.agg(
        F.lit("__quarantine__").alias("source"), F.count(F.lit(1)).alias("n")
    )
    return good.unionByName(bad)


_Q159_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n
FROM documents WHERE doc_id % 11 <> 0 GROUP BY 1
UNION ALL
SELECT '__quarantine__', CAST(count(*) AS BIGINT)
FROM documents WHERE doc_id % 11 = 0
"""


# --------------------------------------------------------------- q160
def q160_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a maintenance op under the gate: the
    events table is first landed as 64 shards (the small-file problem
    every streaming ingest creates), compacted to size-targeted files
    (round-robin ``repartition`` — NOT ``coalesce``, which would
    collapse upstream parallelism into the merged tasks), and the
    re-read rollup must be byte-for-byte the original answer: layout
    changes, content never."""
    import tempfile

    from ..sources.files import compact_to_target_files

    e = load(spark, sf_dir, "events")
    shards = tempfile.mkdtemp(prefix="q160_shards_")
    e.repartition(64).write.mode("overwrite").parquet(shards)
    compacted = tempfile.mkdtemp(prefix="q160_compact_")
    compact_to_target_files(
        spark.read.parquet(shards), compacted, target_file_bytes=8 * 1024 * 1024
    )
    back = spark.read.parquet(compacted)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        (F.sum(cents(F.col("value"))) / 100.0).alias("total"),
    )


_Q160_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------- q167
def q167_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment audit:
    assign every document to a shard by ``argmax_s h(doc_id, s)`` for
    8 shards and again for 10, then count the migration matrix.  HRW's
    minimal-disruption property means only keys whose new argmax is
    one of the two ADDED shards move (~2/10 of the corpus) — the
    audit that justifies resharding a 100 TB layout without a full
    rewrite, vs naive ``hash mod n`` which moves ~80%.

    Exactness: the weight is the portable md5-derived 60-bit hash
    (identical on both engines); argmax via ``array_max`` over
    ``struct(weight, shard)`` — a pure map-side expression.  One
    shuffle total (the migration-matrix aggregation)."""
    docs = load(spark, sf_dir, "documents")

    def weight(s: int) -> F.Column:
        key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(s)))
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")

    def shard(n: int) -> F.Column:
        return F.array_max(
            F.array(
                *[F.struct(weight(s).alias("w"), F.lit(s).alias("s")) for s in range(n)]
            )
        ).getField("s")

    return (
        docs.select(shard(8).alias("old_shard"), shard(10).alias("new_shard"))
        .groupBy("old_shard", "new_shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "old_shard",
            "new_shard",
            (F.col("old_shard") != F.col("new_shard")).alias("moved"),
            "n_docs",
        )
    )


_Q167_SQL = """
WITH w AS (
  SELECT doc_id, s,
         CAST(concat('0x', substr(md5(doc_id || ':' || s), 1, 15)) AS BIGINT) AS h
  FROM documents, unnest(range(10)) AS r(s)
),
old AS (
  SELECT doc_id, CAST(arg_max(s, h) AS INT) AS old_shard
  FROM w WHERE s < 8 GROUP BY doc_id
),
new AS (
  SELECT doc_id, CAST(arg_max(s, h) AS INT) AS new_shard
  FROM w GROUP BY doc_id
)
SELECT old_shard, new_shard,
       (old_shard <> new_shard) AS moved,
       count(*) AS n_docs
FROM old JOIN new USING (doc_id)
GROUP BY 1, 2
"""


QUERIES = {
    "q167_rendezvous_rebalance": q167_rendezvous_rebalance,
    "q127_referential_integrity": q127_referential_integrity,
    "q150_partitioned_roundtrip": q150_partitioned_roundtrip,
    "q154_backfill_overwrite": q154_backfill_overwrite,
    "q159_csv_ingest_quarantine": q159_csv_ingest_quarantine,
    "q160_compaction_roundtrip": q160_compaction_roundtrip,
    "q161_cdc_merge_upsert": q161_cdc_merge_upsert,
    "q84_pricing_summary": q84_pricing_summary,
    "q85_large_volume_orders": q85_large_volume_orders,
    "q86_disjunctive_predicate_join": q86_disjunctive_predicate_join,
    "q87_dominant_supplier_parts": q87_dominant_supplier_parts,
    "q88_idle_rich_customers": q88_idle_rich_customers,
}

ORACLE = {
    "q167_rendezvous_rebalance": _Q167_SQL,
    "q127_referential_integrity": _Q127_SQL,
    "q150_partitioned_roundtrip": _Q150_SQL,
    "q154_backfill_overwrite": _Q154_SQL,
    "q159_csv_ingest_quarantine": _Q159_SQL,
    "q160_compaction_roundtrip": _Q160_SQL,
    "q161_cdc_merge_upsert": _Q161_SQL,
    "q84_pricing_summary": _Q84_SQL,
    "q85_large_volume_orders": _Q85_SQL,
    "q86_disjunctive_predicate_join": _Q86_SQL,
    "q87_dominant_supplier_parts": _Q87_SQL,
    "q88_idle_rich_customers": _Q88_SQL,
}
