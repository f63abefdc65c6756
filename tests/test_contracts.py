"""Data-contract preflight: the driver fixtures satisfy every
contract, violations are detected, and the NULL-stress replica is
still admissible (NULLs are handled by explicit contracts, not
banned)."""

from __future__ import annotations

import pytest

from alpaca_pyspark_spark.contracts import assert_contracts, validate_contracts
from alpaca_pyspark_spark.tables import TABLE_NAMES, load

from .conftest import SF_DIR


def test_fixtures_satisfy_all_contracts(spark):
    rows = validate_contracts(spark, SF_DIR).collect()
    assert len(rows) >= 10
    assert all(r["violations"] == 0 for r in rows), [
        (r["contract"], r["violations"]) for r in rows if r["violations"]
    ]
    assert_contracts(spark, SF_DIR)  # does not raise


def test_violations_detected(spark, tmp_path):
    dest = str(tmp_path / "bad")
    for t in TABLE_NAMES:
        df = load(spark, SF_DIR, t)
        if t == "events":
            # break cent quantization AND (user_id, ts) uniqueness
            from pyspark.sql import functions as F

            broken = df.limit(50).withColumn(
                "value", F.col("value") + F.lit(0.001)
            )
            df = df.unionByName(df.limit(5)).unionByName(broken)
        df.coalesce(1).write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
    got = {
        r["contract"]: r["violations"]
        for r in validate_contracts(spark, dest).collect()
    }
    assert got["cents_quantized:value"] >= 40
    assert got["events_key_unique:(user_id,ts)"] >= 5
    with pytest.raises(ValueError, match="cents_quantized"):
        assert_contracts(spark, dest)


def test_output_type_guard_rejects_decimal(spark):
    """Registry-wide output-type contract (VERDICT r9 item 1): every
    emitted column must use a hash-stable type at the cross-engine
    oracle boundary.  Enforcement is wired into the shared gate
    ``canon.oracle_check``, which both registry sweeps call
    (tests/test_queries_oracle.py per query, tools/driver_mimic.py
    over the registry); this test pins the guard itself — decimal
    (round 9's q200 failure type) and other exotic output types must
    raise, the full scalar set must pass."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.canon import reject_hash_unstable_schema

    ok = spark.range(1).select(
        F.lit("s").alias("s"),
        F.lit(1).cast("bigint").alias("b"),
        F.lit(1).cast("int").alias("i"),
        F.lit(1.0).alias("d"),
        F.lit(True).alias("t"),
        F.lit("2024-01-01").cast("date").alias("dt"),
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        F.lit("2024-01-01").cast("timestamp_ntz").alias("tsn"),
    )
    reject_hash_unstable_schema(ok.schema)  # does not raise
    for bad, label in [
        (F.lit(1).cast("decimal(38,0)"), "decimal"),
        (F.array(F.lit(1)), "array"),
        (F.struct(F.lit(1)), "struct"),
        (F.lit(b"x"), "binary"),
    ]:
        df = spark.range(1).select(bad.alias("c"))
        with _pytest.raises(AssertionError, match="hash-stable"):
            reject_hash_unstable_schema(df.schema)


def test_registry_emits_only_hash_stable_types():
    """The q200 class can only recur through a NEW query added without
    oracle pairing; rows-only queries get the same guard through
    ``canon.rows_only_check``, so every registry entry is covered —
    assert the wiring exists (both shared gates run the guard, and
    both sweeps call both gates) rather than re-running 217 queries
    here."""
    import inspect
    import pathlib

    from alpaca_pyspark_spark import canon

    for gate in (canon.oracle_check, canon.rows_only_check):
        assert "reject_hash_unstable_schema(" in inspect.getsource(gate)
    root = pathlib.Path(__file__).resolve().parents[1]
    for fname, wiring in (
        ("tests/test_queries_oracle.py", "oracle_check("),
        ("tests/test_queries_oracle.py", "rows_only_check("),
        ("tools/driver_mimic.py", "oracle_check("),
        ("tools/driver_mimic.py", "rows_only_check("),
    ):
        assert wiring in (root / fname).read_text(), (
            f"{fname} lost the output-type guard wiring"
        )
