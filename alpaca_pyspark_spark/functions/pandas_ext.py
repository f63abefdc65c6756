"""Arrow-vectorized Python extensions (pandas UDF / applyInPandas).

The engine's stance (SURVEY.md §2F): built-ins first — every hot-path
operator in this repo is JVM-side.  When Python is genuinely needed
(custom numerics, libraries Spark lacks), it enters ONLY through these
Arrow-batched forms, never row-at-a-time UDFs.  Each function here has
a JVM-side twin or a numpy reference implementation in tests proving
numeric equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

import pandas as pd


@F.pandas_udf(DoubleType())
def log_return(price: pd.Series) -> pd.Series:
    """Element-wise log transform via numpy (the 'custom numerics'
    case; equivalent to F.log — asserted in tests)."""
    import numpy as np

    return pd.Series(np.log(price.to_numpy()))


def per_key_linear_trend(
    df: DataFrame, *, key: str, x: str, y: str
) -> DataFrame:
    """Per-key OLS slope/intercept via ``applyInPandas`` (grouped-map):
    the shape for per-group model fitting where each group must be
    materialized in one worker.  Partitioning: one shuffle on the key;
    each group must fit in executor memory (same constraint any
    grouped-map has — at 100 TB, key cardinality ≫ executor count and
    groups are bounded).

    The explicit keyed repartition matters: AQE coalesces post-shuffle
    partitions by BYTE size, and grouped-map stages are CPU-bound in
    Python, not byte-bound — letting AQE shrink a small-by-bytes
    shuffle to 2 partitions serializes thousands of model fits into 2
    workers.  A user-specified repartition is exempt from coalescing,
    pinning one Python worker per core (6× on the bench)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        xs = pdf[x].to_numpy(dtype=float)
        ys = pdf[y].to_numpy(dtype=float)
        if len(xs) < 2 or np.ptp(xs) == 0:
            slope, intercept = 0.0, float(ys.mean()) if len(ys) else 0.0
        else:
            slope, intercept = np.polyfit(xs, ys, 1)
        return pd.DataFrame(
            {key: [pdf[key].iloc[0]], "slope": [float(slope)], "intercept": [float(intercept)], "n": [len(pdf)]}
        )

    schema = f"{key} long, slope double, intercept double, n long"
    return df.groupBy(key).applyInPandas(fit, schema)


def per_key_ols_exact(
    df: DataFrame, *, key: str, x: str, y: str
) -> DataFrame:
    """Per-key OLS with a CROSS-ENGINE-EXACT contract, still through the
    ``applyInPandas`` escape hatch (the showcase is the grouped-map
    plumbing; the numerics are chosen to be oracle-checkable).

    ``x`` and ``y`` must be integer columns (seconds / cents).  Inside
    each group: shift x by its min, accumulate n, Σx, Σy, Σxy, Σx² as
    arbitrary-precision Python ints (no int64 overflow at any scale),
    then perform exactly two float ops for the slope —
    ``float(nΣxy − ΣxΣy) / float(nΣx² − (Σx)²)`` — and three for the
    intercept.  int→double conversion is IEEE round-to-nearest-even in
    every engine, so a SQL twin computing the same sums (HUGEINT in
    DuckDB) divides to the bit-identical double.
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf[x]]
        ys = [int(v) for v in pdf[y]]
        n = len(xs)
        x0 = min(xs) if xs else 0
        xs = [v - x0 for v in xs]
        sx = sum(xs)
        sy = sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        den = n * sxx - sx * sx
        if den == 0:
            slope = None
            intercept = float(sy) / float(n) if n else None
        else:
            slope = float(n * sxy - sx * sy) / float(den)
            intercept = (float(sy) - slope * float(sx)) / float(n)
        # Nullable extension dtypes so a None slope surfaces as SQL NULL
        # (a bare float column would smuggle it through as NaN, which
        # does not hash-compare equal to the oracle's NULL).
        return pd.DataFrame(
            {
                key: pd.array([int(pdf[key].iloc[0])], dtype="Int64"),
                "n_points": pd.array([n], dtype="Int64"),
                "slope": pd.array([slope], dtype="Float64"),
                "intercept": pd.array([intercept], dtype="Float64"),
            }
        )

    schema = f"{key} long, n_points long, slope double, intercept double"
    return df.groupBy(key).applyInPandas(fit, schema)
