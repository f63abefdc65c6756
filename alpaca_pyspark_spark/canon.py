"""The driver's oracle gate, in ONE place: the DuckDB oracle
connection (``oracle_connection``), the driver's pandas
canonicalization (``driver_canon_hash``) and the checks built on them:
``oracle_check`` for oracle-paired queries, ``rows_only_check`` for
the rest.  Tier-1 (``tests/test_queries_oracle.py``) and the
full-registry and spot-check sweeps (``tools/driver_mimic.py``) all
call these two, so no local gate can diverge from another or from the
driver.

The driver checks each oracle-paired query by row count, column names
and a hash, with no tolerance.  It hashes every result as: pandas
DataFrame → ``sort_values`` over all columns (sorted by name) →
``hash_pandas_object`` — with NO exception handling.  Outputs whose
cells pandas cannot factorize/hash (``bytearray`` from BinaryType,
``list`` from ArrayType, ``Row``/tuple from StructType, dicts from
MapType, numpy arrays) make the driver raise ``TypeError: unhashable
type`` and score the query red regardless of content — the round-3
q89/q114 (arrays) and round-5 q148 (BinaryType) failure class.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

#: cell types the driver's sort/hash path cannot handle; rejected
#: explicitly (with the offending column named) before the pandas
#: traceback would fire, so failures are diagnosable.
#:
#: DELIBERATELY CONSERVATIVE, wider than "what makes the driver
#: raise": ``bytes`` and ``tuple`` are pandas-hashable and sortable,
#: so the driver's sort_values + hash_pandas_object would *succeed*
#: on them — but the comparison could not be trusted.  Spark collects
#: BinaryType as ``bytearray`` and StructType as ``Row`` (a tuple
#: subclass) while the DuckDB oracle yields ``bytes`` / ``dict`` for
#: the same logical values, so the two sides hash different Python
#: objects and match only by accident; plain ``bytes``/``tuple`` cells
#: can't even arise from a Spark ``collect()``, only from a
#: hand-built fixture.  Rejecting the whole container class keeps the
#: rule teachable (scalars or strings, nothing else) at the cost of
#: occasionally demanding a projection the driver would technically
#: survive.
DRIVER_UNHASHABLE_CELLS = (bytearray, bytes, memoryview, list, dict, set, tuple)


def reject_unhashable_cells(rows: Iterable[Sequence], cols: Sequence[str]) -> None:
    """Raise AssertionError naming the first column whose cell is a
    container type the driver cannot canonicalize."""
    import numpy as np

    cols = list(cols)
    for r in rows:
        for c, v in zip(cols, r):
            if isinstance(v, DRIVER_UNHASHABLE_CELLS) or isinstance(
                v, np.ndarray
            ):
                raise AssertionError(
                    f"column {c!r} holds a {type(v).__name__} cell — the "
                    "driver's pandas canonicalizer cannot sort/hash it "
                    "(BinaryType collects as bytearray; arrays/structs as "
                    "list/Row). Project to STRING/hex or scalar columns."
                )


#: Spark output types whose VALUE RENDERING is identical on both sides
#: of the cross-engine oracle boundary.  Anything outside this set can
#: be rows+schema green yet hash red: round 9's only driver-red row
#: (q200) emitted DECIMAL(38,0) — Spark collects ``Decimal('123')``
#: where DuckDB yields an int-rendered HUGEINT, flipping every row's
#: hash while counts and names stay green.  Container types are
#: already rejected by ``reject_unhashable_cells``; this guard runs
#: SCHEMA-side so the violation is caught before a single row is
#: collected, and registry-wide via the oracle sweep.
HASH_STABLE_TYPES = frozenset(
    {
        "string",
        "bigint",
        "int",
        "smallint",
        "tinyint",
        "double",
        "float",
        "boolean",
        "date",
        "timestamp",
        "timestamp_ntz",
    }
)


def reject_hash_unstable_schema(schema) -> None:
    """Raise AssertionError naming the first output column whose type
    is outside the hash-stable set (``pyspark.sql.types.StructType``
    in, judged by ``simpleString``)."""
    for f in schema.fields:
        t = f.dataType.simpleString()
        if t not in HASH_STABLE_TYPES:
            raise AssertionError(
                f"output column {f.name!r} has type {t!r} — outside the "
                f"hash-stable oracle-boundary set {sorted(HASH_STABLE_TYPES)}. "
                "Cast at the output boundary (keep wide/exotic types "
                "internal); decimal output is how q200 went driver-red "
                "in round 9 with rows+schema green."
            )


def driver_canon_hash(rows: Iterable[Sequence], cols: Sequence[str]) -> int:
    """The driver's exact canonicalization: DataFrame → sort_values
    (all columns) → hash_pandas_object summed.  NO exception handling
    — a TypeError here is precisely what the driver raises, and
    swallowing it is how round 5 shipped q148 red (the old conftest
    guard caught the sort's TypeError; the old driver_mimic compared
    repr-sorted tuples, where bytearrays compare fine)."""
    import pandas as pd

    cols = list(cols)
    pdf = pd.DataFrame(list(rows), columns=cols)
    pdf = pdf.sort_values(cols, ignore_index=True)
    return int(pd.util.hash_pandas_object(pdf, index=False).sum())


def oracle_connection(sf_dir: str):
    """One DuckDB connection with a view per table of ``sf_dir``.  A
    table is a single parquet file (driver fixtures) or a directory of
    part files (Spark-written replica and stress datasets)."""
    import duckdb

    from .tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def oracle_check(df, con, sql: str) -> dict:
    """The driver's compare of a Spark DataFrame against ``sql`` run on
    ``con``: output types, sorted column names, row count and
    ``driver_canon_hash`` on both sides — no rounding, no tolerance.
    A type or cell the driver cannot hash raises AssertionError; the
    record's ``hash_match`` is the driver's verdict."""
    reject_hash_unstable_schema(df.schema)
    exp = con.sql(sql)
    exp_cols = [d[0] for d in exp.description]
    cols = sorted(df.columns)
    if sorted(exp_cols) != cols:
        return {"rows_match": None, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": "schema_mismatch"}
    got = [tuple(r[c] for c in cols) for r in df.collect()]
    reject_unhashable_cells(got, cols)
    idx = [exp_cols.index(c) for c in cols]
    want = [tuple(r[i] for i in idx) for r in exp.fetchall()]
    rows_match = len(got) == len(want)
    return {"rows_match": rows_match, "schema_match": True,
            "hash_match": rows_match
            and driver_canon_hash(got, cols) == driver_canon_hash(want, cols),
            "spark_rows": len(got), "oracle_rows": len(want), "err": None}


def rows_only_check(df) -> dict:
    """The gate for a query with no oracle: the schema guard, a FULL
    collect (a crash on any input row surfaces, as in the driver's
    run), then the cell guard and the driver's sort+hash — so a
    rows-only output survives canonicalization if it ever rotates into
    the graded set.  Returns the ``oracle_check``-shaped record with
    ``err: "no_oracle"``."""
    reject_hash_unstable_schema(df.schema)
    cols = sorted(df.columns)
    got = [tuple(r[c] for c in cols) for r in df.collect()]
    reject_unhashable_cells(got, cols)
    driver_canon_hash(got, cols)
    return {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": len(got), "oracle_rows": None, "err": "no_oracle"}
