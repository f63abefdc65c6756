"""Declared query registry (SURVEY.md §2G).

``QUERIES`` maps a stable query id to a ``(spark, sf_dir) ->
DataFrame`` callable; ``ORACLE`` maps the same id to equivalent ANSI
SQL for the DuckDB oracle.  Ids missing from ``ORACLE`` are
non-SQL-expressible ops (the driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import release_scoped_caches, tune
from . import advanced, analytics, core, extended, llm, mining, scale, search, tpch, warehouse

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _boundary(fn: QueryFn) -> QueryFn:
    """The query boundary: the one place per-query session rules run.

    Cache discipline: entering a registered query releases every
    ``scoped_persist`` the PREVIOUS query took (its consuming action —
    the driver's / bench's collect — has completed by then), so a
    long-lived session never holds more than one query's worth of
    operator caches.  Harnesses that want zero residue between actions
    (tests, bench) additionally call ``release_scoped_caches()`` right
    after consuming.

    Session confs: it then applies the engine's confs with
    ``session.tune`` before the query builds its plan.  This runs at
    every boundary, not once per session, because callers (the
    streaming gate, tests) change confs between queries and each query
    must start from the engine's confs."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_scoped_caches()
        tune(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


for mod in (core, extended, llm, scale, advanced, analytics, mining, warehouse, search, tpch):
    QUERIES.update({k: _boundary(fn) for k, fn in mod.QUERIES.items()})
    ORACLE.update(mod.ORACLE)
