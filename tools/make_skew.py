"""Build a HOT-KEY skewed copy of sf0.1: same tables, same row count,
but ~30% of events collapse onto ONE user_id (deterministic remap
``user_id % 10 < 3 → hottest existing user``).

Real event logs are Zipfian — one bot/whale key holding a double-digit
share of a partition column is normal, and it is exactly what breaks
naive hash-partitioned joins/windows (one straggler task gets 30% of
the data).  This dataset exists to MEASURE that: `tools/retime_some.py`
times the key-partitioned query families on uniform sf0.1 vs this
replica (identical volume, identical schema — the wall-time ratio
isolates pure skew sensitivity, with AQE's skew-join mitigation on as
in production).

TIMING-ONLY DATASET: the hot-key remap collapses many users onto one
user_id, which creates duplicate (user_id, ts) pairs — the replica
INTENTIONALLY violates the ``events_key_unique`` contract that makes
min_by/argmax picks deterministic.  Never run the oracle compare or
``contracts.assert_contracts`` against it (they would flag it or
diverge nondeterministically); it exists only for wall-time ratios.

Usage: python tools/make_skew.py [--dest /root/repo/.scratch/skew0.1]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from alpaca_pyspark_spark.session import get_spark
from alpaca_pyspark_spark.tables import TABLE_NAMES, load

HOT_SHARE_MOD = 3  # user_id % 10 < 3  →  ~30% of rows go hot


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dest", default="/root/repo/.scratch/skew0.1")
    ap.add_argument(
        "--tables", default="",
        help="comma-separated subset to copy (default all) — the "
             "sessionize skew families only read events, and a skew100 "
             "copy of every table would be ~16 GB of dead weight",
    )
    args = ap.parse_args()
    only = {t for t in args.tables.split(",") if t}
    spark = get_spark("make-skew")
    spark.sparkContext.setLogLevel("ERROR")
    hot = (
        load(spark, args.src, "events")
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), "user_id")
        .first()["user_id"]
    )
    for t in TABLE_NAMES:
        if only and t not in only:
            print(t, "skipped (--tables)")
            continue
        df = load(spark, args.src, t)
        if t == "events":
            df = df.withColumn(
                "user_id",
                F.when(
                    F.col("user_id") % 10 < HOT_SHARE_MOD, F.lit(hot)
                ).otherwise(F.col("user_id")),
            )
        df.write.mode("overwrite").parquet(f"{args.dest}/{t}.parquet")
        print(t, "rows:", df.count())
    share = (
        load(spark, args.dest, "events")
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    print("hot user", share["user_id"], "share", share["count"])


if __name__ == "__main__":
    main()
