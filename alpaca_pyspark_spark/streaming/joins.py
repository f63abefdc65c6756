"""Watermarked stream-stream joins.

The reference's canonical delegated query (USAGE.md:264-277) joins
bars to trades on key equality + time containment; in batch that is
q03/q26.  This module is the unbounded-stream version: both sides are
watermarked, and the join's time-range condition lets Spark derive
state-eviction bounds — a buffered left row can only match right rows
within ``[l.ts, l.ts + window]``, so once the right watermark passes
``l.ts + window`` the row is dropped from state.  Without the range
condition (or watermarks) stream-stream join state grows forever;
with them, state is bounded by rate x window regardless of stream
length — the property that matters at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import watermarked


def _prep(df: DataFrame, ts: str, delay: str, prefix: str) -> DataFrame:
    renamed = df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])
    return watermarked(renamed, f"{prefix}{ts}", delay)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str,
    window: str = "1 hour",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on key equality + time containment: right rows
    with ``r.ts in [l.ts, l.ts + window)``.  Columns come back prefixed
    ``l_``/``r_``.  The range condition + watermarks bound the join
    state on both sides (inner and outer modes are supported by Spark;
    outer emits nulls only after the watermark proves no match can
    arrive)."""
    l = _prep(left, ts, watermark_delay, "l_")
    r = _prep(right, ts, watermark_delay, "r_")
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{ts}") >= F.col(f"l_{ts}"))
        & (F.col(f"r_{ts}") < F.col(f"l_{ts}") + F.expr(f"INTERVAL {window}"))
    )
    return l.join(r, cond, how)
