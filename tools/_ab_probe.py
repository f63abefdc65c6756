"""Single-process A/B probe: time ONE registered query from a given
repo checkout, replicating bench.py's steady-state protocol (table
warmup, untimed warm run, clearCache, timed full re-execution).

Usage: python tools/_ab_probe.py REPO_DIR QUERY_ID SF_DIR [REPS]

Prints one JSON line: {"qid": ..., "times": [...], "rows": N}.
Invoked by ``bench_compare.py --ab`` alternately against the current
repo and a scratch checkout of an older ref, so per-query timings are
PAIRED within one host session — the single-JVM / host drift that
makes cross-day BENCH_DETAIL ratios wobble 2-4x cancels out.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def main() -> None:
    repo, qid, sf_dir = sys.argv[1:4]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sys.path.insert(0, repo)
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")

    from alpaca_pyspark_spark.queries import QUERIES
    from alpaca_pyspark_spark.session import get_spark
    from alpaca_pyspark_spark.tables import TABLE_NAMES, load

    # Self-contained noop-sink forcing (round-11 fix: count() lets
    # Catalyst prune aggregates and eliminate left joins).  Defined
    # INLINE rather than imported so both A/B sides — including old
    # refs whose package predates plans.force_evaluate — force the
    # exact same way and the pairing stays honest.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def force_evaluate(df):
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        return int(obs.get["rows"])

    try:  # the scoped-cache ledger arrived in round 5; older refs lack it
        from alpaca_pyspark_spark.session import release_scoped_caches
    except ImportError:
        def release_scoped_caches():
            return 0

    spark = get_spark("ab-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).limit(1).count()

    fn = QUERIES[qid]
    times = []
    rows = None
    for _ in range(reps):
        spark.catalog.clearCache()
        force_evaluate(fn(spark, sf_dir))  # warm codegen/JIT, untimed
        release_scoped_caches()
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.perf_counter()
        rows = force_evaluate(fn(spark, sf_dir))
        times.append(round(time.perf_counter() - t0, 4))
        release_scoped_caches()
    print(json.dumps({"qid": qid, "times": times, "rows": rows}))


if __name__ == "__main__":
    main()
