"""Mimic the driver's verify loop: entry() + queries()[k] vs
oracle_sql()[k] through ``canon.oracle_check``, the compare Tier-1
uses — zero tolerance.  A query with no oracle goes through
``canon.rows_only_check`` (schema and cell guards, full collect, the
driver's hash).

With no qid it sweeps the FULL registry (the driver's own
CORRECTNESS_r{N}.json samples a fixed-size prefix) and ``--out``
writes a CORRECTNESS-shaped JSON (``ORACLE_LOCAL_r{N}.json``) so the
judge can see full-registry results as a committed artifact.  With
qids it spot-checks only those.  Exits 1 on any mismatch or error.

Usage: python tools/driver_mimic.py SF_DIR [qid ...] [--out ORACLE_LOCAL_rN.json]
"""
import argparse
import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from alpaca_pyspark_spark.canon import oracle_check, oracle_connection, rows_only_check  # noqa: E402
from alpaca_pyspark_spark.session import get_spark, release_scoped_caches  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("qids", nargs="*", help="default: the whole registry")
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = importlib.util.spec_from_file_location("entry_mod", REPO / "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    spark = get_spark("driver-mimic")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(args.sf_dir)
    print("entry rows:", len(m.entry(spark).collect()))
    qs, osql = m.queries(), m.oracle_sql()
    fail, results = [], {}
    for k in args.qids or sorted(qs):
        release_scoped_caches()  # previous query's operator persists
        try:
            df = qs[k](spark, args.sf_dir)
            if k not in osql:
                r = results[k] = rows_only_check(df)
                print(k, "rows-only:", r["spark_rows"], "rows")
                continue
            r = results[k] = oracle_check(df, con, osql[k])
            print(k, "MATCH" if r["hash_match"] else f"MISMATCH {r}",
                  r["spark_rows"], "rows")
            if not r["hash_match"]:
                fail.append(k)
        except Exception as e:  # record, keep going — the artifact must be complete
            print(k, "ERROR", repr(e)[:200])
            fail.append(k)
            results[k] = {"rows_match": None, "schema_match": None,
                          "hash_match": None, "spark_rows": None,
                          "oracle_rows": None, "err": repr(e)[:500]}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
        print("wrote", args.out)
    print(f"FAILURES: {fail}" if fail else "ALL MATCH (exact, no tolerance)")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
