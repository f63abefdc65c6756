"""Streaming dedup vs its batch twin: re-delivered events are dropped
exactly, and the operator keeps watermark-bounded state."""

from __future__ import annotations

from pyspark.sql import functions as F

from alpaca_pyspark_spark.streaming.dedup import dedup_stream
from alpaca_pyspark_spark.tables import load

from .conftest import SF_DIR


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Duplicate the whole events slice (an at-least-once redelivery)
    into a second file of the same stream source: the streaming dedup
    must keep each event_id exactly once — the batch dropDuplicates
    answer."""
    events = (
        load(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id", "value")
        .limit(2000)
    )
    src = str(tmp_path / "dup_stream")
    events.write.parquet(src)
    events.write.mode("append").parquet(src)  # the redelivery

    stream = spark.readStream.schema(events.schema).parquet(src)
    deduped = dedup_stream(
        stream, keys=["event_id"], ts="ts", watermark_delay="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id, count(*) AS n FROM stream_dedup GROUP BY 1")
    assert got.filter(F.col("n") > 1).isEmpty()
    assert got.count() == events.count()
