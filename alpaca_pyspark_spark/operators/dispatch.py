"""Tier dispatch: the one place the engine measures a dispatch input.

Size-adaptive operators choose between output-identical tiers from
parquet footer row counts first and a Spark probe only when the footer
cannot decide.  :func:`table_rows` reads a table's footer row count
(memoized, no job); :func:`table_at_least` compares it with a floor,
and :func:`hot_keys` takes it as an upper bound on its input: when no
key could pass the floor, no probe runs.  Otherwise :func:`hot_keys`
runs one per-key row-count probe.  Floor constants stay beside their
operators; a mis-sided floor costs wall time, never correctness.  Each
decision logs one line: what was measured, the floor, and the arm
taken.
"""

from __future__ import annotations

import glob
import logging
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

#: RELATIVE straggler floor of the per-key probe: a key is hot only
#: past ``HOT_TASK_FACTOR · total/shuffle_partitions`` rows.  At
#: cluster scale this term takes over from the operators' absolute
#: floors (a key only 2x the average task barely straggles), and by
#: pigeonhole at most ``shuffle_partitions / HOT_TASK_FACTOR`` keys
#: pass it, so the hot-key list stays a small plan-side literal.
HOT_TASK_FACTOR = 2.0


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int — on platforms where
    the conf reads back as the literal ``'auto'`` (managed AQE
    variants) fall back to the cluster's default parallelism, which is
    the same quantity the probe's relative floor is modeling."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism or 32


def hot_keys(
    df: DataFrame,
    key: str,
    min_rows: int,
    order_us: str | None = None,
    *,
    max_rows: int | None = None,
) -> list:
    """Non-NULL keys holding more than ``max(min_rows, HOT_TASK_FACTOR ·
    total/shuffle_partitions)`` rows: a list of key values, or — when
    ``order_us`` is given — ``(key, rows, span_us)`` tuples, the span
    taken over non-NULL order values (0 when the key has none).

    ``max_rows`` is an upper bound on ``df``'s rows (a footer count
    from :func:`table_rows`).  At or below ``min_rows`` no key can
    pass the floor, so ``[]`` is returned with no Spark job and no
    persist.  Otherwise, one partial-aggregated probe (|keys| exchange
    rows): the count table is persisted, so its two reads (the total,
    then the over-floor keys) scan ``df`` once; when the largest key
    is at or below the floor, no key can pass it and the second read
    is skipped.  ``min_rows`` is the operator's absolute break-even,
    since per-row single-task cost differs by operator.  A NULL key
    cannot be routed through the ``isin`` split (SQL NULL never equals
    anything), so it stays on the cold side."""
    from ..session import scoped_persist

    if max_rows is not None and max_rows <= min_rows:
        logger.info(
            "dispatch hot_keys(%s): footer %d rows, floor %d -> 0 hot, no probe",
            key, max_rows, min_rows,
        )
        return []
    aggs = [F.count(F.lit(1)).alias("__n")]
    if order_us is not None:
        aggs += [F.min(order_us).alias("__lo"), F.max(order_us).alias("__hi")]
    counts = scoped_persist(df.groupBy(key).agg(*aggs))
    total, top = counts.agg(F.sum("__n"), F.max("__n")).first()
    n = _shuffle_partitions(df.sparkSession)
    floor = max(min_rows, HOT_TASK_FACTOR * (total or 0) / n)
    rows = (
        []
        if (top or 0) <= floor
        else [
            r
            for r in counts.filter(F.col("__n") > floor).collect()
            if r[key] is not None
        ]
    )
    logger.info(
        "dispatch hot_keys(%s): largest key %s of %s rows, floor %d -> %d hot",
        key, top, total, floor, len(rows),
    )
    if order_us is None:
        return [r[key] for r in rows]
    return [
        (r[key], r["__n"], r["__hi"] - r["__lo"] if r["__hi"] is not None else 0)
        for r in rows
    ]


def split_by_keys(events: DataFrame, key: str, keys: list):
    """(hot, cold) partition of the input by key membership.  NULL
    keys go to the cold side (``isin`` yields NULL for them, and the
    single-pass window handles the NULL-key partition the same way
    the pre-split's NULL bucket does)."""
    hot = events.filter(F.col(key).isin(keys))
    cold = events.filter(~F.coalesce(F.col(key).isin(keys), F.lit(False)))
    return hot, cold


def per_key(
    df: DataFrame,
    key: str,
    cold_arm: Callable[[DataFrame], DataFrame],
    hot_arm: Callable[[DataFrame], DataFrame],
    min_rows: int,
    max_rows: int | None = None,
) -> DataFrame:
    """PER-KEY dispatch: hot keys run ``hot_arm``, every other key the
    (strictly cheaper when nothing straggles) ``cold_arm``, and the
    branches union.  Keys are disjoint across branches and the arms
    are output-identical per key, so the split is invisible to
    correctness, and a skewed input's cold keys never pay the hot
    arm's overhead.  ``max_rows`` is forwarded to :func:`hot_keys`."""
    hk = hot_keys(df, key, min_rows, max_rows=max_rows)
    if not hk:
        return cold_arm(df)
    hot, cold = split_by_keys(df, key, hk)
    return cold_arm(cold).unionByName(hot_arm(hot))


#: (sf_dir, table) -> footer-exact row count
_ROWS_CACHE: dict[tuple[str, str], int] = {}


def table_rows(sf_dir: str, table: str) -> int | None:
    """``table``'s row count from its parquet footers, memoized — no
    probe job, and the number a catalog serves as table statistics at
    scale.  None when the footers cannot be read.  The engine only uses
    it to pick between output-identical arms, so a stale or missing
    count can change which arm runs, never a result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _ROWS_CACHE.get((sf_dir, table))
    if rows is None:
        path = f"{sf_dir}/{table}.parquet"
        files = glob.glob(f"{path}/*.parquet") if os.path.isdir(path) else [path]
        try:
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        except (OSError, pa.ArrowException) as e:
            logger.warning("dispatch %s: footer unreadable (%s)", table, e)
            return None
        _ROWS_CACHE[(sf_dir, table)] = rows
    return rows


def table_at_least(sf_dir: str, table: str, floor: int) -> bool:
    """True when ``table``'s footer row count (:func:`table_rows`)
    reaches ``floor``.  Unreadable metadata takes the below-floor tier,
    every caller's always-correct one."""
    rows = table_rows(sf_dir, table)
    above = rows is not None and rows >= floor
    arm = "above floor" if above else "below floor"
    logger.info("dispatch %s: %s rows, floor %d -> %s", table, rows, floor, arm)
    return above
