"""``dispatch.hot_keys``'s footer bound and the build-time contract of
the queries that pass it: a probe whose answer the parquet footer
already fixes starts no Spark job and persists nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alpaca_pyspark_spark.operators import dispatch
from alpaca_pyspark_spark.queries import QUERIES
from alpaca_pyspark_spark.session import release_scoped_caches
from alpaca_pyspark_spark.tables import load

from .conftest import SF_DIR

N = 200


def jobs_started(spark, group, fn):
    """``(jobs, result)``: the Spark jobs ``fn()`` starts, counted
    through a statusTracker job group once the listener bus is
    drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize(
    "max_rows, min_rows, probed, want",
    [(N, N, False, []), (None, N, True, []), (N, N - 1, True, [1])],
    ids=["bound-at-floor", "no-bound", "bound-above-floor"],
)
def test_hot_keys_footer_bound(spark, max_rows, min_rows, probed, want):
    """N rows all on key 1.  A bound at the floor returns ``[]`` with
    no job and no persist; without a bound the probe runs and finds
    nothing; a bound above the floor still probes and finds the key."""
    df = spark.range(N).select(F.lit(1).alias("k"))
    release_scoped_caches()
    jobs, got = jobs_started(
        spark,
        f"hot-keys-{max_rows}-{min_rows}",
        lambda: dispatch.hot_keys(df, "k", min_rows, max_rows=max_rows),
    )
    assert got == want
    assert (jobs > 0) == probed, jobs
    assert release_scoped_caches() == int(probed)


@pytest.mark.parametrize(
    "qid",
    [
        "q14_stream_session",
        "q41_trailing_range_window",
        "q107_session_paths",
        "q115_ignore_nulls_windows",
    ],
)
def test_adaptive_query_builds_without_jobs(spark, qid):
    """At fixture scale the events footer count is below every hot
    floor, so building the query starts no Spark job.  The schema
    inference of the first ``load`` is memoized per session, so it is
    done before counting."""
    load(spark, SF_DIR, "events")
    jobs, _ = jobs_started(
        spark, f"build-{qid}", lambda: QUERIES[qid](spark, SF_DIR)
    )
    assert jobs == 0
    assert release_scoped_caches() == 0
