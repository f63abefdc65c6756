"""The canonicalization guards must be FAITHFUL to the driver: the
round-5 q148 failure (raw BinaryType output → bytearray cells →
driver TypeError) passed both local gates because (a) the conftest
guard swallowed the sort's TypeError and (b) driver_mimic compared
repr-sorted tuples.  These tests pin the fixed behavior: the exact
pre-fix q148 output shape must fail both code paths, and the fixed
STRING shape must pass."""

from __future__ import annotations

import numpy as np
import pytest

from alpaca_pyspark_spark.canon import (
    driver_canon_hash,
    reject_unhashable_cells,
)

from .conftest import assert_driver_canonicalizable


PREFIX_Q148_ROWS = [  # pre-fix shape: BinaryType frame → bytearray cells
    (1, 0, bytearray(b"hello world, this is frame 0 pay")),
    (1, 1, bytearray(b"load bytes continuing into frame")),
    (2, 0, bytearray(b"another video doc's first frame!")),
]
Q148_COLS = ["doc_id", "frame_no", "frame"]


def test_prefix_q148_shape_fails_conftest_guard():
    with pytest.raises(AssertionError, match="bytearray"):
        assert_driver_canonicalizable(PREFIX_Q148_ROWS, Q148_COLS)


def test_prefix_q148_shape_fails_driver_canon():
    # even with the explicit rejection bypassed, the driver's own
    # sort/hash path must raise (this is what the real driver does)
    with pytest.raises(TypeError):
        driver_canon_hash(PREFIX_Q148_ROWS, Q148_COLS)


def test_fixed_q148_shape_passes():
    rows = [(d, n, bytes(b).decode("ascii")) for d, n, b in PREFIX_Q148_ROWS]
    assert_driver_canonicalizable(rows, Q148_COLS)


@pytest.mark.parametrize(
    "cell",
    [
        bytearray(b"x"),
        b"x",
        memoryview(b"x"),
        [1, 2],
        {"k": 1},
        {1, 2},
        (1, 2),  # struct Rows collect as tuple subclasses
        np.array([1.0, 2.0]),
    ],
    ids=lambda c: type(c).__name__,
)
def test_container_cells_rejected_with_column_named(cell):
    with pytest.raises(AssertionError, match="'payload'"):
        reject_unhashable_cells([(7, cell)], ["doc_id", "payload"])


def test_canon_hash_is_order_insensitive():
    rows = [(2, "b"), (1, "a"), (3, None)]
    cols = ["id", "v"]
    assert driver_canon_hash(rows, cols) == driver_canon_hash(
        list(reversed(rows)), cols
    )


def test_canon_hash_detects_value_difference():
    cols = ["id", "v"]
    assert driver_canon_hash([(1, "a")], cols) != driver_canon_hash(
        [(1, "b")], cols
    )


def test_driver_mimic_uses_shared_canon():
    """driver_mimic must import the shared compare, not carry its own
    copy that can drift from the driver again."""
    from pathlib import Path

    src = (Path(__file__).resolve().parents[1] / "tools" / "driver_mimic.py").read_text()
    assert "from alpaca_pyspark_spark.canon import oracle_check" in src
    assert "except TypeError" not in src


def test_oracle_check_is_exact_on_doubles(spark):
    """A double 1e-12 off its DuckDB twin is driver-red, so the shared
    gate must report it: ``oracle_check`` hashes both sides with no
    rounding (a compare that rounds to 9 decimals passes this pair)."""
    import duckdb

    from alpaca_pyspark_spark.canon import oracle_check

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.5::DOUBLE), (2, 2.25::DOUBLE)) t(id, v)"
    ddl = "id bigint, v double"
    same = spark.createDataFrame([(1, 0.5), (2, 2.25)], ddl)
    drift = spark.createDataFrame([(1, 0.5 + 1e-12), (2, 2.25)], ddl)
    assert oracle_check(same, con, sql)["hash_match"]
    r = oracle_check(drift, con, sql)
    assert r["rows_match"] and r["schema_match"] and not r["hash_match"], r


def test_rows_only_check_rejects_array_column(spark):
    """A top-level array column is rejected by the rows-only gate, with
    the column named — before any row is collected."""
    from alpaca_pyspark_spark.canon import rows_only_check

    df = spark.createDataFrame([(1, [1, 2])], "id bigint, payload array<bigint>")
    with pytest.raises(AssertionError, match="'payload'"):
        rows_only_check(df)
