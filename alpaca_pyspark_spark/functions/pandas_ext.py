"""Arrow-vectorized Python extensions (pandas UDF / applyInPandas).

The engine's stance (SURVEY.md §2F): built-ins first — every hot-path
operator in this repo is JVM-side.  When Python is genuinely needed
(custom numerics, libraries Spark lacks), it enters ONLY through these
Arrow-batched forms, never row-at-a-time UDFs.  The grouped-map fit
here is checked bit-exactly against a DuckDB twin (q27's oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

import pandas as pd


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
