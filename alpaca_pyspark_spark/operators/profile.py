"""Data profiling: :func:`profile_table` is the single-pass
data-quality audit a corpus runs before training: per-column null
counts, numeric min/max, distinct counts — ONE aggregate over one scan
(partial-agg map-side), never a per-column pass.  At 100 TB, one pass
vs #columns passes is the whole game.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    *,
    numeric_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """One-row profile: total rows, per-column null counts for every
    column, min/max for ``numeric_cols``, exact distinct counts for
    ``distinct_cols`` — all in a single aggregate (one scan, one
    reduce to a single row)."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in df.columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
    for c in numeric_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    for c in distinct_cols:
        aggs.append(F.countDistinct(c).alias(f"distinct_{c}"))
    return df.agg(*aggs)
