"""Crossover sweep for one size-dispatch floor: time the two arms of a
dispatched operator on synthetic data at several sizes, and check that
they return the same rows.

    python tools/floor_sweep.py quantile 2 6 20      # MILLIONS of lineitem rows
    python tools/floor_sweep.py range 10 30 100 300  # THOUSANDS of rows, one key

The two tiers and the floors they set:

* ``quantile`` — q102/q106 window vs sqrt-range decomposition,
  ``queries.mining.QUANTILE_DECOMPOSE_MIN_TABLE_ROWS``;
* ``range`` — q41's count+cents window on one key over a 30-day span
  with a 24h frame: plain vs prefix-bucket at the dispatcher's own
  bucket width (``hot``, ``operators.rangewindow.RANGE_HOT_MIN_ROWS``).

Protocol, the same for every tier: the synthetic data is deterministic
(xxhash64, no rand()) and written to parquet once per size, so both
arms re-scan files like the real query; each arm runs once untimed,
then the arms alternate for REPS timed runs each, forced through
``plans.force_evaluate`` with scoped caches released between runs;
medians are reported; both arms' full outputs are compared at every
size.  Writes ``AB_floor_<tier>.json`` in the current directory and
exits non-zero if any size lost parity.
"""

from __future__ import annotations

import gc
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from alpaca_pyspark_spark.plans import force_evaluate  # noqa: E402
from alpaca_pyspark_spark.session import get_spark, release_scoped_caches  # noqa: E402

REPS = 3
DAY_US = 24 * 3600 * 1_000_000
SPAN_US = 30 * DAY_US


# ------------------------------------------------------------ quantile
def _write_lineitem(spark, n: int, path: str) -> None:
    """lineitem-shaped rows: l_returnflag skewed ~50/25/25 (N, N, A, R)
    like the real column, near-unique prices over the ~10.4M-cent
    domain, integer quantities 1..50, unique (orderkey, linenumber)."""
    spark.range(n).select(
        F.element_at(
            F.array(F.lit("N"), F.lit("N"), F.lit("A"), F.lit("R")),
            (F.pmod(F.col("id"), F.lit(4)) + 1).cast("int"),
        ).alias("l_returnflag"),
        ((F.pmod(F.xxhash64("id"), F.lit(10_400_000)) + 90_000) / 100.0).alias(
            "l_extendedprice"
        ),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50)) + 1)
        .cast("double")
        .alias("l_quantity"),
        (F.col("id") / 4 + 1).cast("bigint").alias("l_orderkey"),
        (F.pmod(F.col("id"), F.lit(4)) + 1).cast("int").alias("l_linenumber"),
    ).write.mode("overwrite").parquet(path)


def _quantile_cases(n: int) -> dict:
    from alpaca_pyspark_spark.queries import mining as m

    return {
        "q102": {"window": m._q102_window, "decomposed": m._q102_decomposed},
        "q106": {"window": m._q106_window, "decomposed": m._q106_decomposed},
    }


# --------------------------------------------------------------- range
def _write_one_key(spark, n: int, path: str) -> None:
    """One hot key, pseudo-uniform timestamps over q41's 30-day span,
    integer cents, unique row ids."""
    spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit("HOT").alias("user_id"),
        F.pmod(F.xxhash64("id"), F.lit(SPAN_US)).alias("us"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100_000)).alias("cents"),
    ).write.mode("overwrite").parquet(path)


def _range_cases(n: int) -> dict:
    from alpaca_pyspark_spark.operators import rangewindow as rw

    kw = dict(
        key="user_id",
        order_us="us",
        window_us=DAY_US,
        sums={"cents_24h": F.col("cents")},
        count_alias="n_24h",
    )

    def plain(df):
        return rw._plain(df, **kw)

    def prefix(df):
        # the width the dispatcher derives from the probe: n rows, and
        # the key's span, which the pseudo-uniform timestamps fill
        return rw.trailing_count_sums_prefix_bucket(
            df,
            row_id="event_id",
            bucket_widths=rw.prefix_bucket_width(n, SPAN_US),
            **kw,
        )

    return {"hot": {"plain": plain, "prefix": prefix}}


#: tier -> (size unit in rows, parquet writer, per-size case arms)
TIERS = {
    "quantile": (1_000_000, _write_lineitem, _quantile_cases),
    "range": (1_000, _write_one_key, _range_cases),
}


def _timed(arm, df) -> float:
    spark = df.sparkSession
    spark.catalog.clearCache()
    gc.collect()
    t0 = time.perf_counter()
    force_evaluate(arm(df))
    dt = time.perf_counter() - t0
    release_scoped_caches()
    spark.catalog.clearCache()
    return round(dt, 2)


def _rows(arm, df) -> list:
    out = sorted((tuple(r) for r in arm(df).collect()), key=repr)
    release_scoped_caches()
    df.sparkSession.catalog.clearCache()
    return out


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in TIERS:
        raise SystemExit(f"usage: floor_sweep.py {{{'|'.join(TIERS)}}} SIZES...")
    tier, sizes = sys.argv[1], [int(a) for a in sys.argv[2:]]
    unit, write, cases_for = TIERS[tier]
    spark = get_spark(f"floor-sweep-{tier}")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix=f"floor_{tier}_")
    out = {
        "tier": tier,
        "unit_rows": unit,
        "protocol": "parquet-staged deterministic synthetic data; warm run "
        f"per arm, then arms alternated for {REPS} noop-sink-forced runs "
        "each in one JVM; medians; full outputs compared per size",
        "sizes": {},
    }
    try:
        for size in sizes:
            n = size * unit
            path = f"{root}/{size}"
            write(spark, n, path)
            df = spark.read.parquet(path)
            res = {}
            for case, arms in cases_for(n).items():
                for arm in arms.values():
                    _timed(arm, df)
                t = {name: [] for name in arms}
                for _ in range(REPS):
                    for name, arm in arms.items():
                        t[name].append(_timed(arm, df))
                ref, *rest = [_rows(arm, df) for arm in arms.values()]
                parity = all(r == ref for r in rest)
                res[case] = {"parity": parity} | {
                    name: {"s": s, "median": statistics.median(s)}
                    for name, s in t.items()
                }
                medians = " ".join(
                    f"{name}={res[case][name]['median']}s" for name in arms
                )
                print(
                    f"# {tier} {size} {case}: {medians} parity={parity}",
                    file=sys.stderr,
                    flush=True,
                )
            out["sizes"][str(size)] = res
    finally:
        shutil.rmtree(root, ignore_errors=True)
    Path(f"AB_floor_{tier}.json").write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out, indent=1))
    if not all(c["parity"] for s in out["sizes"].values() for c in s.values()):
        raise SystemExit("parity FAILED")


if __name__ == "__main__":
    main()
