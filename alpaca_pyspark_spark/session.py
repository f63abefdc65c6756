"""SparkSession construction and scale-oriented configuration.

Two kinds of conf:

- *Session-build confs* (:data:`BUILD_CONFS`) take effect only when
  :func:`get_spark` builds the session.  Spark sizes its JVM-global
  generated-class cache at the first codegen, and PySpark reads the
  DataFrame-debugging flag once, at the first wrapped API call; setting
  either later changes nothing.
- *Runtime confs* (:data:`RUNTIME_CONFS`) can be set on a live session;
  :func:`tune` applies them.

Two situations:
1. Our own tests / bench / perfbench build the session via
   :func:`get_spark`, so they get both kinds.
2. The driver hands us an existing session (``__spark_entry__``): the
   registry's query boundary (``queries._boundary``) applies the
   runtime confs via :func:`tune` on entry to every registered query,
   so each query runs under the engine's confs even if something
   changed them since the last one.  That session keeps Spark's
   defaults for the session-build confs: a 100-entry codegen cache and
   per-call DataFrame call-site capture.

Scale stance (100 TB / 1000 executors): everything here is either a
cluster-size-independent correctness conf (timezone, Arrow) or an
adaptive-execution conf (AQE handles partition coalescing, skew joins
and broadcast conversion at runtime, so the same plan code works on
local[32] and on a real cluster).
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

logger = logging.getLogger(__name__)

#: Generated classes Spark keeps compiled (``CodeGenerator``'s cache;
#: Spark's default is 100, in four LRU segments of 25).  One sweep of
#: the registry generates 3,117 distinct classes at sf0.001 and 3,174
#: at sf0.01, and the 7 ``market_analytics`` queries about 95, so at
#: 100 a pass recompiles whatever overfills a segment.  Sized from
#: SCALE.md "Codegen cache sizing".
CODEGEN_CACHE_MAX_ENTRIES = 4096

#: Confs that only take effect when :func:`get_spark` builds the session.
BUILD_CONFS: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_MAX_ENTRIES),
    # No call-site capture on every wrapped DataFrame/Column call (a
    # stack walk, a failed ``import IPython`` and two py4j calls each,
    # most of a query build's Python calls).  Analysis errors keep
    # their condition and plan; only the Python call site is lost.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: Confs that can be set on a live session (no restart needed).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic time semantics; testdata timestamps are NTZ so this
    # only affects functions that consult the session zone.
    "spark.sql.session.timeZone": "UTC",
    # AQE is the scale story: runtime partition coalescing, skew-join
    # splitting, and sort-merge→broadcast conversion from actual stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Read parquet NTZ timestamps as TIMESTAMP_NTZ (matches DuckDB).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Arrow for any pandas-UDF paths (similarity/multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Catalyst filter pushdown into Python DataSources (Spark 4.1):
    # lets df.filter on symbol/time narrow the REST readers' partition
    # grid and fetch windows (sources/alpaca.py pushFilters).
    "spark.sql.python.filterPushdown.enabled": "true",
    # ObjectHashAggregate (collect_list/collect_set aggs) falls back to
    # SORT-BASED aggregation after only 128 distinct keys per partition
    # — a full sort of the exploded input (2× on the minhash signature
    # stage, measured).  Doc-level aggregations routinely see thousands
    # of keys per partition and their buffers are small; 64k keeps the
    # hash path while still bounding per-partition buffer memory for
    # genuinely huge cardinalities.
    "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold": "65536",
}


def default_shuffle_partitions() -> int:
    """Shuffle parallelism: match local cores; AQE coalesces down.

    On a real cluster this would be ~2-3× total executor cores (set by
    the submitter); with AQE enabled the exact number only caps the
    initial partition count.
    """
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Called by :func:`get_spark` and at every registered query's entry
    (``queries._boundary``); query code never calls it."""
    confs = {
        **RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(default_shuffle_partitions()),
    }
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except PySparkException as e:  # not settable on this build — non-fatal
            logger.warning("tune: cannot set %s=%s (%s)", k, v, e)
    return spark


# --------------------------------------------------------------------
# Scoped-cache ledger (persist discipline for a long-lived session)
#
# Operators whose pipeline needs a cached intermediate (LSH signature
# reuse across band projections, PageRank's edge table across rounds,
# …) RETURN a lazy DataFrame, so the consuming action — the only
# correct unpersist point — happens in the caller, after the
# operator's frame is gone.  Unscoped persists would pile up in
# Catalyst's CacheManager until LRU eviction decided what stays hot.
# localCheckpoint(eager=False) avoids the residue but was measured 18%
# slower over the one-JVM bench (truncated lineage turns cheap
# drop-and-recompute eviction into disk spills) — see PLANS.md
# round-5 notes.
#
# So every operator-internal persist goes through scoped_persist(),
# which records it in a session ledger, and every query boundary
# (``queries._boundary``) calls release_scoped_caches(); harnesses
# also call it after their consuming action (tests/conftest.py
# asserts the CacheManager is EMPTY after every oracle query, so a
# persist that bypasses the ledger fails CI).
# --------------------------------------------------------------------

_SCOPED: list[DataFrame] = []
_LEDGER_LOCK = __import__("threading").Lock()


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` recorded in the session's cache ledger; released
    by :func:`release_scoped_caches` at the next query boundary."""
    out = df.persist()
    with _LEDGER_LOCK:
        _SCOPED.append(out)
    return out


def release_scoped_caches() -> int:
    """Unpersist every ledger entry (blocking=False); returns how many
    actually unpersisted.  Call after the action that consumes a query.
    The lock keeps concurrent ``scoped_persist`` calls from corrupting
    the ledger."""
    n = 0
    while True:
        with _LEDGER_LOCK:
            if not _SCOPED:
                return n
            df = _SCOPED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception as e:  # session may be stopped — entry still
            # leaves the ledger, but is not counted as released
            logger.warning("release_scoped_caches: unpersist failed (%s)", e)


def get_spark(app_name: str = "alpaca_pyspark_spark") -> SparkSession:
    """Build (or fetch) a local session with the engine's configuration."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(map=BUILD_CONFS)
    )
    return tune(builder.getOrCreate())
