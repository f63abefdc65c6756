"""Shared fixtures: one SparkSession per test session and the DuckDB
oracle connection of ``canon.oracle_connection`` (the compare itself
is ``canon.oracle_check``, shared with ``tools/driver_mimic.py``)."""

from __future__ import annotations

import os

import pytest

from alpaca_pyspark_spark.canon import oracle_connection
from alpaca_pyspark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("alpaca-pyspark-spark-tests")
    yield s


@pytest.fixture()
def assert_no_cache_residue(spark):
    """Round-5 persist-discipline gate: after a query's consuming
    action, releasing the scoped-cache ledger must leave Catalyst's
    CacheManager EMPTY — i.e. every ``persist()``/``cache()`` an
    operator takes must go through ``session.scoped_persist`` (or be
    scoped try/finally internally).  In a long-lived session (the
    195-query bench is one JVM; a real deployment runs weeks)
    unscoped cache entries accumulate until LRU eviction decides what
    stays hot instead of the operators.  A persist that bypasses the
    ledger fails here."""
    from alpaca_pyspark_spark.session import release_scoped_caches

    yield
    release_scoped_caches()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "CacheManager not empty after releasing the scoped ledger — an "
        "operator persisted a DataFrame without session.scoped_persist "
        "(or an internal try/finally unpersist)"
    )


@pytest.fixture(scope="session")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def assert_driver_canonicalizable(rows, cols):
    """Run the driver's pandas canonicalization (``canon``: container
    cells rejected with the column named, then the exact sort+hash
    with no exception handling) over already-collected rows — for
    outputs with no oracle, which ``canon.oracle_check`` never sees.
    Any top-level array/struct/binary cell makes the driver raise
    ``TypeError: unhashable type`` (q89/q114 in round 3, q148 in
    round 5)."""
    from alpaca_pyspark_spark.canon import (
        driver_canon_hash,
        reject_unhashable_cells,
    )

    rows = list(rows)
    reject_unhashable_cells(rows, cols)
    driver_canon_hash(rows, cols)

