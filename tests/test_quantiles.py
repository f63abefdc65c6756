"""Rank-selection quantile decomposition (operators/quantiles.py) —
must be bit-identical to the one-window formulations it replaces in
q102 (grouped percentile_cont 0.5 + MAD) and q106 (grouped weighted
median), including on ties, NULL values, NULL keys, odd/even counts,
single rows, zero weights, and all-null groups."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from alpaca_pyspark_spark.operators.quantiles import (
    grouped_median_cont,
    grouped_weighted_median,
)
from alpaca_pyspark_spark.session import release_scoped_caches


@pytest.fixture(autouse=True)
def _drain_caches():
    yield
    release_scoped_caches()


# ------------------------------------------------------------------
# reference formulations (the pre-round-12 window plans, verbatim)
# ------------------------------------------------------------------


def _ref_mad_profile(df):
    w = Window.partitionBy("k")
    d = (
        df.select("k", "v")
        .withColumn("__med", F.percentile("v", F.lit(0.5)).over(w))
        .withColumn("__dev", F.abs(F.col("v") - F.col("__med")))
        .withColumn("__mad", F.percentile("__dev", F.lit(0.5)).over(w))
    )
    return (
        d.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_if(F.col("__dev") > F.lit(1.5) * F.col("__mad")).alias(
                "n_outliers"
            ),
            F.max("__med").alias("med"),
            F.max("__mad").alias("mad"),
        )
    )


def _new_mad_profile(df):
    # mirror of q102's assembly over (k, v)
    counts = (
        df.select("k", "v").groupBy("k", "v").agg(F.count(F.lit(1)).alias("c"))
    )
    med = grouped_median_cont(counts, key="k", value="v", cnt="c", out="__med")
    devc = (
        counts.filter(F.col("v").isNotNull())
        .join(
            F.broadcast(med.select(F.col("k").alias("__mk"), "__med")),
            F.col("k").eqNullSafe(F.col("__mk")),
        )
        .select(
            "k",
            F.abs(F.lit(2) * F.col("v") - (F.col("__med") * 2).cast("bigint")).alias(
                "d2"
            ),
            "c",
        )
        .groupBy("k", "d2")
        .agg(F.sum("c").alias("dc"))
    )
    mad2 = grouped_median_cont(devc, key="k", value="d2", cnt="dc", out="__m2")
    mm = F.broadcast(
        med.join(
            F.broadcast(
                mad2.select(F.col("k").alias("__ak"), (F.col("__m2") * 0.5).alias("__mad"))
            ),
            F.col("k").eqNullSafe(F.col("__ak")),
        ).select(F.col("k").alias("__gk"), "__med", "__mad")
    )
    dev = F.abs(F.col("v") - F.col("__med"))
    return (
        counts.join(mm, F.col("k").eqNullSafe(F.col("__gk")), "left")
        .groupBy("k")
        .agg(
            F.sum("c").alias("n_items"),
            F.sum(
                F.when(dev > F.lit(1.5) * F.col("__mad"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers"),
            F.max("__med").alias("med"),
            F.max("__mad").alias("mad"),
        )
    )


def _ref_weighted_median(df):
    ow = (
        Window.partitionBy("k")
        .orderBy("v", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gw = Window.partitionBy("k")
    hit = (
        df.withColumn("__cum", F.sum("w").over(ow))
        .withColumn("__tot", F.sum("w").over(gw))
        .filter(F.col("__cum") * 2 >= F.col("__tot"))
    )
    return hit.groupBy("k").agg(
        F.min("v").alias("wmed"), F.max("__tot").alias("tot")
    )


def _new_weighted_median(df):
    counts = df.groupBy("k", "v").agg(F.sum("w").alias("wm"))
    wm = grouped_weighted_median(counts, key="k", value="v", wsum="wm")
    return wm.select("k", F.col("__wv").alias("wmed"), F.col("__tot").alias("tot"))


def _cmp(ref_df, new_df):
    # bitwise float comparison: repr distinguishes every double
    ref = sorted(tuple(map(repr, r)) for r in ref_df.collect())
    new = sorted(tuple(map(repr, r)) for r in new_df.collect())
    assert ref == new


# ------------------------------------------------------------------
# MAD / percentile_cont parity
# ------------------------------------------------------------------


def test_mad_parity_random_with_ties_and_nulls(spark):
    rng = random.Random(102)
    rows = []
    for i in range(4000):
        k = rng.choice(["A", "B", "C", None])
        # heavy ties (small value domain) + NULL values + one big key
        v = None if rng.random() < 0.1 else rng.randrange(0, 500) * 7
        rows.append((k, v))
    df = spark.createDataFrame(rows, "k string, v long")
    _cmp(_ref_mad_profile(df), _new_mad_profile(df))


def test_mad_parity_odd_even_and_small_groups(spark):
    rows = (
        [("odd", v) for v in (11, 5, 7)]          # odd count: exact middle
        + [("even", v) for v in (2, 4, 8, 100)]   # even: interpolated halves
        + [("one", 42)]                            # single row: med=v, mad=0
        + [("allnull", None), ("allnull", None)]   # med/mad NULL, n_items=2
        + [("two", 1), ("two", 2)]                 # even, adjacent -> x.5
    )
    df = spark.createDataFrame(rows, "k string, v long")
    _cmp(_ref_mad_profile(df), _new_mad_profile(df))


def test_mad_parity_wide_value_range(spark):
    rng = random.Random(7)
    rows = [("K", rng.randrange(0, 2_000_000_000)) for _ in range(3000)]
    rows += [("K", 1_999_999_999)] * 5 + [("K", 0)] * 5  # pin the extremes
    df = spark.createDataFrame(rows, "k string, v long")
    _cmp(_ref_mad_profile(df), _new_mad_profile(df))


# ------------------------------------------------------------------
# weighted-median parity
# ------------------------------------------------------------------


def test_weighted_median_parity_random(spark):
    rng = random.Random(106)
    rows = []
    for i in range(4000):
        k = rng.choice(["A", "B", "C", None])
        rows.append((i, k, rng.randrange(0, 300) * 3, rng.randrange(0, 9)))
    df = spark.createDataFrame(rows, "rid long, k string, v long, w long")
    _cmp(_ref_weighted_median(df), _new_weighted_median(df))


def test_weighted_median_zero_weights_and_degenerates(spark):
    rows = (
        [(1, "z", 50, 0), (2, "z", 10, 0)]   # all-zero weights -> min(v)
        + [(3, "s", 7, 5)]                    # single row
        + [(4, "t", 1, 1), (5, "t", 2, 1)]    # even total: first v with 2cum>=tot
        + [(6, "u", 3, 2), (7, "u", 4, 1), (8, "u", 5, 1)]  # crossing mid-run
        + [(9, "v", 9, 1), (10, "v", 9, 1), (11, "v", 12, 3)]  # tie on value
    )
    df = spark.createDataFrame(rows, "rid long, k string, v long, w long")
    _cmp(_ref_weighted_median(df), _new_weighted_median(df))


def test_quantile_dispatch_floor():
    # gate/bench fixtures sit below the floor -> window tier; a table
    # whose footer count reaches the floor -> decomposed tier
    from alpaca_pyspark_spark.operators import dispatch
    from alpaca_pyspark_spark.operators.dispatch import table_at_least
    from alpaca_pyspark_spark.queries.mining import (
        QUANTILE_DECOMPOSE_MIN_TABLE_ROWS as FLOOR,
    )

    from .conftest import SF_DIR

    assert not table_at_least(SF_DIR, "lineitem", FLOOR)
    dispatch._ROWS_CACHE[("/fake/sf", "lineitem")] = FLOOR
    try:
        assert table_at_least("/fake/sf", "lineitem", FLOOR)
    finally:
        del dispatch._ROWS_CACHE[("/fake/sf", "lineitem")]
    # unknown path: metadata unavailable -> the always-correct tier
    assert not table_at_least("/no/such/dir", "lineitem", FLOOR)


def test_q209_forced_tier_equals_q106(spark):
    # the registered forced-decomposition twin must land on rows
    # bit-identical to q106's dispatched (window, at this scale) plan
    import os

    from alpaca_pyspark_spark.queries.mining import (
        q106_weighted_median,
        q209_weighted_median_decomposed,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    _cmp(q106_weighted_median(spark, sf), q209_weighted_median_decomposed(spark, sf))


def test_weighted_median_single_hot_key_parallel_shape(spark):
    # one giant key: the decomposition must not route everything to a
    # single window partition — shape assertion: no window partitioned
    # only by the group key over the raw rows (plan-level check)
    rng = random.Random(11)
    rows = [(i, "HOT", rng.randrange(0, 10_000), 1 + i % 3) for i in range(20_000)]
    df = spark.createDataFrame(rows, "rid long, k string, v long, w long")
    _cmp(_ref_weighted_median(df), _new_weighted_median(df))
