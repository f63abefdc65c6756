"""Round-13 re-probe of q169_incremental_dedup (VERDICT r12 item 4,
untouched since r8): (a) does the work still scale with the DELTA, not
the corpus, and (b) does a hot near-duplicate cluster straggle the
candidate-pair stage?

(a) Delta-scaled A/B on sf0.1: the same 80% corpus deduped against
    deltas of 5% / 10% / 20% of the documents table (the registered
    query is the 20% arm).  Work-∝-delta predicts time ≈ fixed
    corpus-side cost (signatures + band buckets, identical across
    arms) + a term tracking delta share.
(b) Hot-cluster ratio on synthetic corpora (floor_sweep span generator shape,
    12k docs): uniform vs the same volume with 900 verbatim copies of
    one document (just under the 1000 bucket guard, the worst
    admissible bucket) and with 3000 copies (OVER the guard — the
    guard must prune it back to cheap).  Wall-time ratios isolate the
    candidate-stage's bucket sensitivity.

    python tools/ab_r13_q169.py /root/testdata/sf0.1
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

import os

os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

from pyspark.sql import functions as F  # noqa: E402

from alpaca_pyspark_spark.operators.dedup import (  # noqa: E402
    incremental_minhash_dedup,
)
from alpaca_pyspark_spark.plans import force_evaluate  # noqa: E402
from alpaca_pyspark_spark.session import get_spark  # noqa: E402
from alpaca_pyspark_spark.session import release_scoped_caches  # noqa: E402
from alpaca_pyspark_spark.tables import load  # noqa: E402
from tools.floor_sweep import _write_span_corpus as write_synth  # noqa: E402

REPS = 3


def run_forced(mk) -> float:
    df = mk()
    spark = df.sparkSession
    spark.catalog.clearCache()
    gc.collect()
    t0 = time.perf_counter()
    force_evaluate(df)
    dt = time.perf_counter() - t0
    release_scoped_caches()
    spark.catalog.clearCache()
    return dt


def inc(docs, mod: int):
    return incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % mod != 0),
        docs.filter(F.col("doc_id") % mod == 0),
        id_col="doc_id",
        text_col="text",
        shingle_k=3,
        threshold=0.2,
        portable=True,
    )


def medianed(spark, label, mk):
    spark.sparkContext.setJobDescription(f"q169probe {label} warm")
    run_forced(mk)
    ts = []
    for rep in range(REPS):
        spark.sparkContext.setJobDescription(f"q169probe {label}")
        ts.append(round(run_forced(mk), 2))
        print(f"# {label} rep{rep}: {ts[-1]}s", file=sys.stderr, flush=True)
    return {"s": ts, "median": round(statistics.median(ts), 2)}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("ab-r13-q169")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"reps": REPS, "delta_scaling": {}, "hot_cluster": {}}

    # (a) delta scaling: SAME corpus side (doc_id % 20 != 0 is a
    # superset; to keep the corpus identical across arms, corpus =
    # %5 != 0 throughout and the delta is a shrinking slice of %5 == 0)
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    for frac, cond in (
        ("delta_20pct_registered", F.col("doc_id") % 5 == 0),
        ("delta_10pct", (F.col("doc_id") % 10) == 0),
        ("delta_5pct", (F.col("doc_id") % 20) == 0),
    ):
        delta = docs.filter(cond)
        mk = lambda d=delta: incremental_minhash_dedup(  # noqa: E731
            corpus, d, id_col="doc_id", text_col="text",
            shingle_k=3, threshold=0.2, portable=True,
        )
        out["delta_scaling"][frac] = medianed(spark, frac, mk)

    # (b) hot cluster: synthetic 12k docs; CLONE doc 0 onto the last
    # 900 / 3000 ids (verbatim duplicates -> identical signatures ->
    # one band bucket per band holds the whole cluster)
    root = tempfile.mkdtemp(prefix="q169hot_")
    try:
        base = f"{root}/base"
        write_synth(spark, 12_000, base)
        for name, clones in (("uniform", 0), ("hot900", 900), ("hot3000", 3000)):
            path = f"{root}/{name}"
            d = spark.read.parquet(base)
            if clones:
                d0 = d.filter(F.col("doc_id") == 0).select("text")
                cloned = (
                    spark.range(12_000, 12_000 + clones)
                    .select(F.col("id").alias("doc_id"))
                    .crossJoin(F.broadcast(d0))
                )
                d = d.unionByName(cloned)
            d.write.mode("overwrite").parquet(path)
            docs_s = spark.read.parquet(path)
            mk = lambda ds=docs_s: inc(ds, 5)  # noqa: E731
            out["hot_cluster"][name] = medianed(spark, name, mk)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
