"""Loaders for the driver's synthetic tables (TESTDATA.md).

Each loader is a thin ``spark.read.parquet`` — column pruning and
predicate pushdown then happen for free in the parquet scan (Catalyst
pushes filters/projections declared downstream; verified by the plan
tests in ``tests/test_plans.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: (sf_dir, table) -> footer-inferred StructType.  SCHEMA memo only —
#: never data, never results: every action still scans the parquet
#: files.  Rationale (r12 OPT, guide §1.2 per-task work): plain
#: ``spark.read.parquet(path)`` re-infers the schema on EVERY call
#: (~90 ms of driver-side footer read + listing through py4j,
#: measured at sf0.1), and the bench's 223 queries call load() 1-5×
#: each; passing the memoized schema drops DataFrame construction to
#: ~20 ms.  A catalog-backed deployment holds exactly this metadata
#: in the metastore — the memo is the pathless-read equivalent.
_SCHEMA_CACHE: dict[tuple[str, str], "object"] = {}


def _parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return spark.read.schema(sch).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _parquet(spark, sf_dir, name)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects, [PARQUET_TYPE_ILLEGAL]) and as
    plain TIMESTAMP(MICROS) depending on the generator version.  Handle
    both: nanos are read as raw int64 (legacy conf) and floored to
    microseconds — the same truncation DuckDB applies, so the oracle
    agrees exactly; micros are just normalized to TIMESTAMP_NTZ.

    The nanosAsLong conf is set BEFORE the first (memoized) schema
    inference so the nanos layout infers as LongType rather than
    erroring, and kept set for the scans themselves.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _parquet(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
    else:
        ts = F.col("ts").cast("timestamp_ntz")
    return df.withColumn("ts", ts).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


#: The SQL twin of ``load_texts`` (text-analysis contract: NULL text is
#: excluded), for the oracles to open with.  ``main.`` is the base view,
#: not this CTE.
DOCUMENTS_CTE = "documents AS (SELECT * FROM main.documents WHERE text IS NOT NULL)"

#: The SQL twin of ``load_vectors`` (vector-ops contract: NULL embeddings
#: are excluded), for the oracles to open with.  ``main.`` is the base
#: view, not this CTE.
EMBEDDINGS_CTE = (
    "embeddings AS (SELECT * FROM main.embeddings WHERE embedding IS NOT NULL)"
)


def load_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table under the TEXT-ANALYSIS CONTRACT: rows with
    NULL text are excluded.  A NULL text is a failed extraction — it
    cannot be tokenized, fingerprinted, language-identified, packed,
    or quality-scored, and engines disagree on NULL string/regexp
    arithmetic — so exclusion is the portable, explicit semantics (the
    quarantine pattern of q159 handles such rows upstream).  Text
    queries under this contract load through this helper; their SQL
    twins open with the matching shadow CTE, ``DOCUMENTS_CTE``
    (null-stress gate, round 9)."""
    from pyspark.sql import functions as F

    return load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the VECTOR-OPS CONTRACT: rows with a
    NULL embedding are excluded.  A failed encoder run lands a NULL
    vector in a real pipeline; it cannot be indexed, scored, quantized,
    or deduped, and engines disagree on NULL-vector arithmetic (DuckDB
    ``list_inner_product`` rejects NULL elements outright, numpy builds
    a ragged object array) — so exclusion is the portable, explicit
    semantics.  Every vector query loads through this helper and every
    vector oracle opens with the matching shadow CTE, ``EMBEDDINGS_CTE``
    (null-stress gate, round 9)."""
    from pyspark.sql import functions as F

    return load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
