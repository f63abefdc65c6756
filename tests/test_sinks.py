"""Sink coverage: the engine's write path is Spark's DataFrameWriter
(the reference has no sinks, SURVEY.md §2A; our additions are the
patterns a pipeline needs at scale — partitioned layout, roundtrip
fidelity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from alpaca_pyspark_spark.tables import load

from .conftest import SF_DIR


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    e = load(spark, SF_DIR, "events")
    e.write.partitionBy("event_type").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == e.count()
    # partition pruning: reading one event_type touches only its dir
    one = back.filter(F.col("event_type") == "purchase")
    assert one.count() == e.filter(F.col("event_type") == "purchase").count()
    # values survive the roundtrip (ordered compare on a stable key)
    a = sorted(e.select("event_id", "value").collect())
    b = sorted(back.select("event_id", "value").collect())
    assert a == b


def test_bucketed_table_write(spark, tmp_path):
    """Bucketing: the co-located-join layout for repeated large joins
    (no shuffle on the bucketed key at read time)."""
    li = load(spark, SF_DIR, "lineitem").limit(1000)
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "bucketed"))  # external table
        .mode("overwrite")
        .saveAsTable("lineitem_bucketed")
    )
    back = spark.table("lineitem_bucketed")
    assert back.count() == 1000
    spark.sql("DROP TABLE lineitem_bucketed")


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The payoff of bucketing: both sides bucketed on the join key ->
    the sort-merge join reads co-located buckets with ZERO exchanges.
    This is the layout for repeated fact-fact joins at 100 TB, where a
    per-query shuffle of either side is the dominant cost."""
    from alpaca_pyspark_spark.plans import count_shuffles, formatted_plan

    li = load(spark, SF_DIR, "lineitem").limit(2000)
    od = load(spark, SF_DIR, "orders").limit(2000)
    for name, df, key in [
        ("li_b", li, "l_orderkey"),
        ("od_b", od, "o_orderkey"),
    ]:
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        j = spark.table("li_b").join(
            spark.table("od_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert count_shuffles(j) == 0, formatted_plan(j)
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE li_b")
        spark.sql("DROP TABLE od_b")


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Idempotent incremental backfill: with dynamic partition
    overwrite, re-writing ONE day replaces exactly that day's
    partition and leaves every other partition untouched — the
    exactly-once-per-partition write pattern for reruns/late data at
    scale (static mode would wipe the whole table)."""
    out = str(tmp_path / "events_by_day")
    e = load(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    e.write.partitionBy("day").parquet(out)
    total = e.count()
    day = e.select("day").orderBy("day").first()["day"]
    day_n = e.filter(F.col("day") == day).count()

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # the backfill: same day re-derived (values doubled to make the
        # replacement observable), written in overwrite mode
        fixed = (
            e.filter(F.col("day") == day)
            .withColumn("value", F.col("value") * 2)
        )
        fixed.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(out)
    assert back.count() == total  # no other partition was dropped
    assert back.filter(F.col("day") == day).count() == day_n
    # the rewritten day actually carries the new values
    want = {
        r["event_id"]: r["value"] * 2
        for r in e.filter(F.col("day") == day).select("event_id", "value").collect()
    }
    got = {
        r["event_id"]: r["value"]
        for r in back.filter(F.col("day") == day).select("event_id", "value").collect()
    }
    assert got == want


def test_file_format_round_trips(spark, tmp_path):
    """Source/sink format breadth: the engine reads and writes every
    Spark-built-in columnar/text format losslessly (parquet is the
    primary path; csv/json/orc cover interchange)."""
    from alpaca_pyspark_spark.tables import load

    from .conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    want = {(r["event_id"], r["user_id"], r["event_type"], r["value"])
            for r in e.collect()}

    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        w = e.write.mode("overwrite")
        r = spark.read
        if fmt == "csv":
            w = w.option("header", True)
            r = r.option("header", True).schema(e.schema)
        if fmt == "json":
            r = r.schema(e.schema)
        getattr(w, fmt)(path)
        back = getattr(r, fmt)(path)
        got = {(x["event_id"], x["user_id"], x["event_type"], x["value"])
               for x in back.collect()}
        assert got == want, f"{fmt} round trip lost data"
