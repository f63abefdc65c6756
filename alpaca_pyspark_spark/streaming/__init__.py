"""Structured Streaming layer.

The reference is batch-only, but its trades table is stream-shaped
(SURVEY.md §1.1) and its docs delegate stream processing to Spark; we
provide the two streaming capabilities the analytic surface implies:

- :mod:`.sessions` — watermarked session-window aggregation (the
  streaming twin of the batch gaps-and-islands q14);
- :mod:`.source`   — a ``SimpleDataSourceStreamReader`` variant of the
  trades connector: a time-cursor poller over the same paginated REST
  endpoint + wire tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def watermarked(df: DataFrame, ts: str, delay: str) -> DataFrame:
    """``df`` with a ``delay`` watermark on event time ``ts``, cast to
    TIMESTAMP first: watermarks reject NTZ (the cast keeps wall-clock
    time under the engine's UTC session timezone), and ``SimplifyCasts``
    removes it when ``ts`` already is a TIMESTAMP."""
    return df.withColumn(ts, F.col(ts).cast("timestamp")).withWatermark(ts, delay)
