"""Physical-plan inspection helpers.

Used by tests (and by engine developers via ``explain_report``) to
assert the *shape* of execution, not just its results: filters reach
the parquet scan, projections prune columns, small dimensions
broadcast, and no redundant shuffles sneak in.  This is the engine's
substitute for eyeballing ``.explain("formatted")`` — the properties
that make a plan survive a 100× scale-up, checked in CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that appear in the plan's scans."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of the plan's scans (column pruning check)."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: ([^\n]+)", plan)


def count_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges in the (pre-AQE) formatted plan tree."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def count_broadcasts(df: DataFrame) -> int:
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """True if at least one whole-stage-codegen subtree compiles for
    this plan (uses explain's codegen mode — the AQE formatted tree
    doesn't assign codegen stage ids before execution)."""
    out = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    return "WholeStageCodegen subtree" in out


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far
    (``CodegenMetrics``' compilation-time histogram count).  A class
    served from the codegen cache does not count, so the difference
    over a run is the run's compiles, cache misses only."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def force_evaluate(df: DataFrame) -> int:
    """Fully evaluate ``df`` for TIMING purposes and return its row
    count.

    ``df.count()`` is NOT a faithful forcing action: Catalyst prunes
    every non-grouping expression under the count and then applies
    join elimination, so a left-join + aggregate query "times" as a
    distinct over the left keys with the join (and even its scans)
    deleted — measured round 11, where the q03 pair join's skew100
    count() took 3.8 s while the real evaluation exceeded 600 s
    (SCALE.md round-11).  The noop sink evaluates every column of
    every row with no driver serialization — the standard benchmark
    sink; the row count rides along as an observed metric so callers
    keep their sanity check without a second action.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop"
    ).mode("overwrite").save()
    return int(obs.get["rows"])
