"""Time-series operators over irregular tick data.

The reference's domain is market time series (bars/trades/actions —
SURVEY.md §1.1); these are the standard analytic verbs a time-series
store layers on top of that data model (TimescaleDB/kdb verbs:
``locf``/gap-fill, ``twa``/time-weighted average, running drawdown,
rolling moments), each re-expressed as Spark built-ins with the
engine's exactness rules (integer cents / integer microseconds, one
final float op sequence — COVERAGE.md "Exactness strategy").

Scale shapes:
- every operator is ONE shuffle on the series key (then linear window
  passes) or a pure groupBy — no self-joins, no explode blow-ups;
- the gap-fill spine is generated per key with ``sequence()`` —
  O(days) rows per key, never a driver-side calendar;
- rolling moments use the algebraic (n, Σx, Σx²) decomposition, so a
  RANGE window re-aggregates three integers per row instead of
  rescanning the trailing values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cents


def _micros(ts: Column) -> Column:
    """Exact integer event-time in µs (TIMESTAMP_NTZ under the UTC
    session zone — same integer DuckDB's ``epoch_us`` yields)."""
    return F.unix_micros(ts.cast("timestamp"))


def locf_gapfill(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts: str,
    value_col: str,
    step: str = "1 day",
) -> DataFrame:
    """Gap-fill each key's series onto a regular ``step`` grid with
    last-observation-carried-forward values.

    Per key: bucket observations to the grid (last value in each
    bucket, by event time), generate the key's own [first, last] spine
    with ``sequence()``, left-join, and carry the last non-null value
    forward with ``last(ignorenulls)``.  Rows: Σ_key (span/step);
    two shuffles (bucket agg + spine join on key,bucket), one window
    pass.  Returns keys + ``bucket`` + ``value`` (filled).
    """
    keys = list(keys)
    bucket = F.date_trunc("DAY", F.col(ts)) if step == "1 day" else F.window(
        F.col(ts), step
    ).start
    obs = (
        df.groupBy(*keys, bucket.alias("bucket"))
        .agg(F.max_by(F.col(value_col), F.col(ts)).alias("__obs"))
    )
    spine = (
        obs.groupBy(*keys)
        .agg(F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi"))
        .select(
            *keys,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(obs, [*keys, "bucket"], "left")
        .select(
            *keys,
            "bucket",
            F.last("__obs", ignorenulls=True).over(w).alias("value"),
        )
    )


def time_weighted_average(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts: str,
    value_col: str,
    bucket_step: str = "1 day",
) -> DataFrame:
    """Time-weighted average value per (keys, bucket): each observation
    is weighted by the µs it stays current — until the next observation
    of the same key, capped at its bucket's end (the last observation
    of a key extends to its bucket end).

    Exactness: weights are integer µs, values integer cents; the
    weighted sum is a BIGINT aggregation (order-independent), and the
    final ``Σ(cents·dt) / Σdt / 100`` is two deterministic float
    divisions.  One shuffle (window on key), one groupBy.
    """
    keys = list(keys)
    assert bucket_step == "1 day", "only daily buckets are wired up"
    bucket = F.date_trunc("DAY", F.col(ts))
    nxt = F.lead(F.col(ts)).over(Window.partitionBy(*keys).orderBy(ts))
    bucket_end = F.date_trunc("DAY", F.col(ts)) + F.expr("INTERVAL 1 DAY")
    hold_until = F.least(F.coalesce(nxt, bucket_end), bucket_end)
    value_cents = cents(F.col(value_col))
    dt = _micros(hold_until) - _micros(F.col(ts))
    weighted = df.select(
        *keys,
        bucket.alias("bucket"),
        (value_cents * dt).alias("__cd"),
        dt.alias("__dt"),
    )
    return weighted.groupBy(*keys, "bucket").agg(
        (
            F.sum("__cd").cast("double")
            / F.sum("__dt").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
        F.count(F.lit(1)).alias("n_obs"),
    )


def drawdown(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts: str,
    value_col: str,
) -> DataFrame:
    """Running peak and drawdown per key: ``peak`` = running max of
    value in event-time order, ``drawdown`` = (value − peak) / peak
    (≤ 0; 0 at new highs).  Max picks an exact input value and the
    subtraction/division are single deterministic float ops, so the
    result is engine-exact.  One shuffle, one linear window pass."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max(F.col(value_col)).over(w)
    return df.select(
        *keys,
        F.col(ts),
        F.col(value_col),
        peak.alias("peak"),
        ((F.col(value_col) - peak) / peak).alias("drawdown"),
    )


def rolling_moments(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts: str,
    value_col: str,
    trailing_days: int = 6,
) -> DataFrame:
    """Trailing mean/stddev per (keys, day) over a ``trailing_days``
    RANGE window, via the algebraic (n, Σcents, Σcents²) decomposition:
    daily partials aggregate once, and the window re-sums THREE
    integers per day instead of rescanning raw rows — the shape that
    makes second-order rolling stats O(days) not O(rows·window).

    Exactness: the integer sums are order-independent; mean and
    stddev = sqrt((nΣx² − (Σx)²) / (n(n−1))) are a fixed float-op
    sequence over exact integers (cents ≤ 2¹⁶ keeps nΣx² far inside
    the 2⁵³ double-exact range at any daily volume).
    """
    keys = list(keys)
    value_cents = cents(F.col(value_col))
    daily = (
        df.groupBy(*keys, F.date_trunc("DAY", F.col(ts)).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(value_cents).alias("__sx"),
            F.sum(value_cents * value_cents).alias("__sxx"),
        )
    )
    day_num = F.unix_date(F.col("day").cast("date"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(day_num)
        .rangeBetween(-trailing_days, 0)
    )
    n = F.sum("__n").over(w)
    sx = F.sum("__sx").over(w)
    sxx = F.sum("__sxx").over(w)
    var_num = (n * sxx - sx * sx).cast("double")
    var_den = (n * (n - F.lit(1))).cast("double")
    return daily.select(
        *keys,
        "day",
        n.alias("n_obs"),
        (sx.cast("double") / n.cast("double") / F.lit(100.0)).alias("mean_value"),
        F.when(n > 1, F.sqrt(var_num / var_den) / F.lit(100.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("stddev_value"),
    )
