"""OHLCV bar construction — the reference's core analytic semantic.

The reference's ``timeframe`` option (required bar param,
``/root/reference/alpaca_pyspark/bars.py:95-97``) asks the *server* to
aggregate ticks into bars with the 9-column schema of
``/root/reference/alpaca_pyspark/bars.py:115-127``:
``(symbol, time, open, high, low, close, volume, trade_count, vwap)``.

Spark-first re-expression: a tumbling-window hash aggregation over the
tick stream.  open/close are the *time-ordered* first/last values — we
use ``min_by``/``max_by`` keyed on a ``(ts, rowid)`` struct, which stays
a single-pass hash aggregate (one shuffle on the group keys, with
map-side partial aggregation) and is deterministic under ties, unlike
``first()``/``last()``.

Scale notes: the whole operator is one shuffle keyed by
``(key, window)``; skewed symbols are handled by AQE skew-split since
partial aggregation has already collapsed each map partition to one row
per (key, window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cents


def tumbling_bars(
    ticks: DataFrame,
    *,
    key: str,
    ts: str,
    price: str,
    size: Column | str | None = None,
    tiebreak: Column | str | None = None,
    interval: str = "1 day",
) -> DataFrame:
    """Aggregate a tick stream into OHLCV bars.

    Parameters mirror the reference bar semantics (SURVEY.md §2D D5):
    ``interval`` is the bar width (timeframe), ``key`` the symbol-like
    grouping column, ``price`` the tick price, ``size`` the tick size
    (``None`` → every tick has size 1, so volume = tick count and vwap
    = plain mean).  ``tiebreak`` deterministically orders ticks with
    identical timestamps (e.g. a unique id column).
    """
    order = F.struct(F.col(ts), F.col(tiebreak) if isinstance(tiebreak, str) else (tiebreak if tiebreak is not None else F.col(ts)))
    size_col = F.col(size) if isinstance(size, str) else (size if size is not None else F.lit(1).cast("long"))
    p = F.col(price)

    bar = F.window(F.col(ts), interval)
    out = (
        ticks.groupBy(F.col(key), bar.alias("bar"))
        .agg(
            F.min_by(p, order).alias("open"),
            F.max(p).alias("high"),
            F.min(p).alias("low"),
            F.max_by(p, order).alias("close"),
            F.sum(size_col).alias("volume"),
            F.count(F.lit(1)).alias("trade_count"),
            (F.sum(p * size_col) / F.sum(size_col)).alias("vwap"),
        )
        .select(
            F.col(key),
            F.col("bar.start").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "trade_count",
            "vwap",
        )
    )
    return out


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
