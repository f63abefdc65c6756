"""OHLCV bar construction — the reference's core analytic semantic.

The reference's ``timeframe`` option (required bar param,
``/root/reference/alpaca_pyspark/bars.py:95-97``) asks the *server* to
aggregate ticks into bars with the 9-column schema of
``/root/reference/alpaca_pyspark/bars.py:115-127``:
``(symbol, time, open, high, low, close, volume, trade_count, vwap)``.

Spark-first re-expression: a tumbling-window hash aggregation over the
tick stream.  open/close are the *time-ordered* first/last values — we
use ``min_by``/``max_by`` keyed on the tick time, which stays a
single-pass hash aggregate (one shuffle on the group keys, with
map-side partial aggregation) and, unlike ``first()``/``last()``, does
not depend on row order.

Scale notes: the whole operator is one shuffle keyed by
``(key, window)``; skewed symbols are handled by AQE skew-split since
partial aggregation has already collapsed each map partition to one row
per (key, window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cents


def tumbling_bars(
    ticks: DataFrame, *, key: str, ts: str, price: str, interval: str
) -> DataFrame:
    """Aggregate a tick stream into OHLCV bars, one row per ``key`` and
    ``interval``-wide window (the reference's D5 ``timeframe``).

    Every tick has size 1, so ``volume == trade_count`` and vwap is the
    mean price.  vwap divides the exact BIGINT sum of integer cents
    once, so it is bit-identical to a SQL twin's; everything else picks
    exact input values.  Ticks without a price are dropped first (Spark
    ``min_by`` keeps NULL-valued rows, SQL ``arg_min`` skips them).
    open/close order by ``ts`` alone, so ``(key, ts)`` must be unique.
    """
    p = F.col(price)
    return (
        ticks.filter(p.isNotNull())
        .groupBy(key, F.window(ts, interval).start.alias("bar_start"))
        .agg(
            F.min_by(p, F.col(ts)).alias("open"),
            F.max(p).alias("high"),
            F.min(p).alias("low"),
            F.max_by(p, F.col(ts)).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.count(F.lit(1)).alias("trade_count"),
            (F.sum(cents(p)) / (F.lit(100.0) * F.count(F.lit(1)))).alias("vwap"),
        )
    )


def tumbling_bars_cents(
    ticks: DataFrame,
    *,
    key: str,
    ts: str,
    price: str,
    interval: str,
) -> DataFrame:
    """Bars carrying re-aggregable state: alongside OHLC/volume, keep
    the exact integer-cent price sum (``cents_sum``) so coarser bars
    can be rolled up from finer ones without revisiting ticks, and
    vwap stays exact at every level (``vwap = cents_sum/(100·volume)``).

    This is the hypertable/continuous-aggregate pattern: at 100 TB you
    materialize the finest bars once, then maintain every coarser
    resolution by re-aggregating bars — orders of magnitude less data
    than the tick stream.
    """
    p = F.col(price)
    p_cents = cents(p)
    # A tick without a price is not a valid trade: drop it before the
    # aggregation.  This is also where Spark and SQL engines diverge —
    # min_by returns the NULL-valued row, arg_min skips it — so the
    # explicit filter makes bar semantics engine-portable on
    # NULL-bearing feeds (null-stress gate; oracles carry the same
    # ``WHERE value IS NOT NULL``).
    ticks = ticks.filter(p.isNotNull())
    # Group by the WHOLE window struct (not window().start): in
    # streaming mode the watermark is tracked through the window
    # column, and projecting .start before the agg severs that link
    # ([STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION] in append mode).
    return (
        ticks.groupBy(F.col(key), F.window(F.col(ts), interval).alias("_w"))
        .agg(
            F.min_by(p, F.col(ts)).alias("open"),
            F.max(p).alias("high"),
            F.min(p).alias("low"),
            F.max_by(p, F.col(ts)).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.sum(p_cents).alias("cents_sum"),
        )
        .select(
            key,
            F.col("_w.start").alias("bar_start"),
            "open", "high", "low", "close", "volume", "cents_sum",
        )
    )


def rollup_bars(bars: DataFrame, *, key: str, interval: str) -> DataFrame:
    """Re-aggregate fine bars (from :func:`tumbling_bars_cents`) into a
    coarser ``interval``.  Exactly equals computing the coarse bars
    directly from ticks: open/close chain through ``min_by``/``max_by``
    on the fine bar_start, extrema and counts are associative, and the
    integer cents_sum keeps vwap exact."""
    return (
        bars.groupBy(
            F.col(key), F.window(F.col("bar_start"), interval).start.alias("bar_start")
        )
        .agg(
            F.min_by("open", F.col("bar_start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("bar_start")).alias("close"),
            F.sum("volume").alias("volume"),
            F.sum("cents_sum").alias("cents_sum"),
        )
    )


def finalize_bars(bars: DataFrame) -> DataFrame:
    """Expose the user-facing schema: vwap from the exact state."""
    return bars.select(
        "*", (F.col("cents_sum") / (F.lit(100.0) * F.col("volume"))).alias("vwap")
    ).drop("cents_sum")
