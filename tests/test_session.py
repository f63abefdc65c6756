"""The scoped-cache ledger (session.scoped_persist) and the query
boundary that drains it — the round-5 persist-discipline machinery —
and the session-build confs (codegen cache size, no call-site
capture)."""

from __future__ import annotations

import pytest

from alpaca_pyspark_spark.session import (
    release_scoped_caches,
    scoped_persist,
)

from .conftest import SF_DIR


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_scoped_persist_registers_and_release_empties(spark):
    release_scoped_caches()  # other tests may have left entries
    spark.catalog.clearCache()
    df = scoped_persist(
        spark.read.parquet(f"{SF_DIR}/nation.parquet").select("n_nationkey")
    )
    assert df.count() == 25
    assert not _cache_manager(spark).isEmpty()
    released = release_scoped_caches()
    assert released >= 1
    assert _cache_manager(spark).isEmpty()


def test_release_is_idempotent_and_safe_when_empty(spark):
    release_scoped_caches()
    assert release_scoped_caches() == 0


def test_query_boundary_drains_previous_query(spark):
    """Entering any registered query releases the PREVIOUS query's
    operator persists, so the driver's sequential correctness run
    holds at most one query's caches at a time."""
    from alpaca_pyspark_spark.queries import QUERIES

    release_scoped_caches()
    spark.catalog.clearCache()
    # q120 takes a scoped persist internally and returns lazily
    df = QUERIES["q120_domain_distinctive_tokens"](spark, SF_DIR)
    df.count()  # the consuming action
    assert not _cache_manager(spark).isEmpty()
    # driver moves on: the NEXT query's entry drains the ledger
    QUERIES["q31_token_count"](spark, SF_DIR).count()
    assert _cache_manager(spark).isEmpty()
    release_scoped_caches()


def test_streaming_gate_error_path_restores_conf_and_cleans_staging(spark, tmp_path):
    """An exception inside transform() must still restore
    spark.sql.shuffle.partitions and remove the staged temp dirs
    (round-5 advice: the pre-try section leaked both)."""
    import glob

    from alpaca_pyspark_spark.streaming.gate import run_streaming_gate

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.range(3).selectExpr("id", "timestamp'2024-01-01' as ts")
    marker = "sgate_errtest"
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        def bad_transform(s):
            raise RuntimeError("boom")

        run_streaming_gate(
            spark, [(df, None)], bad_transform, prefix=marker
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    import tempfile

    leaked = glob.glob(f"{tempfile.gettempdir()}/{marker}_*")
    assert leaked == [], f"staged dirs leaked on error path: {leaked}"


def test_query_boundary_applies_engine_confs(spark):
    """Entering a registered query re-applies the engine's confs, even
    after a caller changed them mid-session — the boundary is the one
    place confs are set, so no query module calls ``tune`` itself."""
    from pathlib import Path

    import alpaca_pyspark_spark.queries as queries
    from alpaca_pyspark_spark.session import RUNTIME_CONFS, default_shuffle_partitions

    keys = [*RUNTIME_CONFS, "spark.sql.shuffle.partitions"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        queries.QUERIES["q31_token_count"](spark, SF_DIR)  # build only, no action
        for k, v in RUNTIME_CONFS.items():
            assert spark.conf.get(k) == v, k
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            default_shuffle_partitions()
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    for path in Path(queries.__file__).parent.glob("*.py"):
        if path.name != "__init__.py":
            assert "tune(" not in path.read_text(), path.name


#: The ``market_analytics`` benchmark queries plus q100 and q151.  At
#: fixture scale the seven alone generate 92 classes, which fit Spark's
#: default 100-entry codegen cache (four LRU segments of 25) unless
#: hashing overfills a segment.  q100 and q151 add 55, so at the
#: default some segment always holds more of the pass than it keeps and
#: every pass recompiles that segment's share.  All nine generate the
#: same code on every run (q205, q208 and q127 do not, see SCALE.md
#: "Codegen cache sizing").
SECOND_PASS_QIDS = (
    "q02_bars_tumbling",
    "q06_asof_join",
    "q07_adjustment",
    "q41_trailing_range_window",
    "q50_rolling_volatility",
    "q52_twap",
    "q76_ewma",
    "q100_market_share",
    "q151_rfm_segments",
)


def test_second_pass_compiles_no_new_classes(spark):
    """A second pass over the same queries reuses every generated class
    the first pass compiled: the session's codegen cache holds the
    working set (session.CODEGEN_CACHE_MAX_ENTRIES)."""
    from alpaca_pyspark_spark.plans import codegen_compiles, force_evaluate
    from alpaca_pyspark_spark.queries import QUERIES

    def one_pass() -> int:
        c0 = codegen_compiles(spark)
        for qid in SECOND_PASS_QIDS:
            force_evaluate(QUERIES[qid](spark, SF_DIR))
        release_scoped_caches()
        return codegen_compiles(spark) - c0

    first = one_pass()
    second = one_pass()
    assert second == 0, f"second pass compiled {second} classes (first {first})"


def test_debugging_off_and_analysis_errors_keep_their_condition(spark):
    """The engine session skips PySpark's per-call call-site capture;
    an unresolved column still raises with its condition and plan."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_col")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN."), err.value
    assert "no_such_col" in str(err.value) and "Range" in str(err.value), err.value
