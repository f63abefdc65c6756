"""Stream-static enrichment: the stream side must match the batch
twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from alpaca_pyspark_spark.streaming.enrich import enrich_stream
from alpaca_pyspark_spark.tables import load

from .conftest import SF_DIR


def test_stream_static_join_matches_batch(spark, tmp_path):
    events = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    dim = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_n"))
    )
    src = str(tmp_path / "src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = enrich_stream(stream, dim, on="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_id"], r["user_n"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    want = {
        (r["event_id"], r["user_n"])
        for r in enrich_stream(events, dim, on="user_id").collect()
    }
    assert got == want and len(got) > 0
