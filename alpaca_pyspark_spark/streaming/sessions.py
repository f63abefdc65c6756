"""Streaming sessionization: watermark + session_window.

Batch q14 uses gaps-and-islands (SQL-expressible for the oracle); this
is the same semantic expressed with Spark's native session windows for
unbounded streams.  ``session_window(ts, gap)`` merges events whose
gaps are < ``gap`` — session start = first event, session end = last
event + gap (note: the batch twin reports end = last event; callers
comparing the two must subtract the gap).

Watermark: events later than ``watermark_delay`` behind the stream max
are dropped and their sessions finalized — that is what bounds state
at 100 TB/day stream rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import watermarked


def streaming_session_summary(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-(key, session) rollup over a streaming DataFrame."""
    return (
        watermarked(events, ts, watermark_delay)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
