"""Retime a subset of queries in a fresh JVM with bench.py's exact
protocol (``bench.warm_tables`` once, then ``bench.time_query`` per
qid: warm run, timed run, noop-sink force, scoped-cache release, one
retime when the timed run contradicts the warm run).

    python tools/retime_some.py SF_DIR qid [qid ...]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import time_query, warm_tables  # noqa: E402
from alpaca_pyspark_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    qids = sys.argv[2:]
    spark = get_spark("retime-some")
    spark.sparkContext.setLogLevel("ERROR")
    warm_tables(spark, sf_dir)
    out = {}
    for qid in qids:
        warm, dt, n, retime = time_query(spark, qid, sf_dir)
        out[qid] = {"warm": round(warm, 3), "timed": round(dt, 3), "rows": n,
                    "retime": retime}
        print(f"# {qid}: {n} rows warm={warm:.3f}s timed={dt:.3f}s"
              f" retime={retime}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
