"""Streaming deduplication: exactly-once semantics over at-least-once
streams.

Ingestion retries (the connector's HTTP retry layer, E2) and source
replays make duplicate events a fact of life in any stream; the fix
belongs in the engine.  ``dedup_stream`` is
``dropDuplicatesWithinWatermark(keys)``: it keeps the first arrival
per key and drops re-deliveries that arrive within the watermark
delay.  State per key is evicted once the watermark passes it —
bounded memory at any stream rate, the property that matters at
100 TB/day.  (Plain ``dropDuplicates`` on a stream never evicts:
unbounded state, do not use.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from . import watermarked


def dedup_stream(
    events: DataFrame,
    *,
    keys: Sequence[str],
    ts: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins key dedup with watermark-bounded state."""
    return watermarked(events, ts, watermark_delay).dropDuplicatesWithinWatermark(
        list(keys)
    )
