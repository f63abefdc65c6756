"""Streaming bar construction: the continuous-aggregate pattern live.

The batch operator (:mod:`..operators.bars`) is a declarative
groupBy-window aggregation, so the streaming version IS the same
operator — we only add the watermark that lets Spark finalize bars and
evict their state.  One implementation, two execution modes: that is
the point of expressing bars as a Catalyst plan instead of imperative
code (the reference delegates all bar analytics to Spark too,
SURVEY.md §2F).

At scale this is how the 100 TB hypertable stays fresh: the stream
maintains the finest bars incrementally (state = one row per open
(symbol, window), bounded by the watermark), a periodic batch job
rolls them up to coarser resolutions with
:func:`..operators.bars.rollup_bars` — nothing ever re-reads ticks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.bars import finalize_bars, tumbling_bars_cents
from . import watermarked


def streaming_bars(
    ticks: DataFrame,
    *,
    key: str,
    ts: str,
    price: str,
    interval: str = "1 minute",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling OHLCV+vwap bars over a streaming DataFrame.

    Emits the same schema as the batch twin (open/high/low/close/
    volume/vwap).  Ticks later than ``watermark_delay`` behind the
    stream max are dropped and their bars finalized — that bounds
    state.  Use append output mode downstream to get exactly-once
    finalized bars into the sink.
    """
    bars = tumbling_bars_cents(
        watermarked(ticks, ts, watermark_delay),
        key=key,
        ts=ts,
        price=price,
        interval=interval,
    )
    return finalize_bars(bars)
