"""Time queries in a fresh JVM with bench.py's exact protocol
(``bench.warm_tables`` once per corpus, then ``bench.time_query`` per
qid and corpus: warm run, timed run, noop-sink force, scoped-cache
release, one retime when the timed run contradicts the warm run).

    python tools/retime_some.py SF_DIR qid [qid ...]
    python tools/retime_some.py A_DIR B_DIR OUT.json[:BLOCK] [qid ...]

The first form prints warm/timed/rows and the ``[warm, timed]`` Janino
compiles per qid, and one JSON line.

The second form measures the committed scale rows (STRESS_SF1.json,
STRESS_SF10.json, STRESS_SF100.json, and SKEW_STRESS.json with one
BLOCK per scale).  It times each qid on corpus A, then on corpus B, and
merges one row per qid into OUT.json (into BLOCK when given), writing
the file after each qid::

    {"<A>_sec", "<B>_sec", "<A>_rows", "<B>_rows", "vs_linear"}

``<A>`` and ``<B>`` are the corpus directory basenames and
``vs_linear = t_B / (r * t_A)``, where ``r`` is B's input row count
over A's, read from the parquet footers of the tables both corpora
hold (≈10 for a ``make_sf1.py`` replica, 1 for a ``make_skew.py``
twin).  ``_meta`` records ``r`` and both directories.  With no qid, the
rows OUT.json (or BLOCK) holds are re-measured: the artifact is its own
roster.  Given qids, those rows are added or refreshed and the others
kept.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import time_query, warm_tables  # noqa: E402
from alpaca_pyspark_spark.operators.dispatch import table_rows  # noqa: E402
from alpaca_pyspark_spark.queries import QUERIES  # noqa: E402
from alpaca_pyspark_spark.session import get_spark  # noqa: E402
from alpaca_pyspark_spark.tables import TABLE_NAMES  # noqa: E402


def q163_setsim_bounded(spark, sf_dir):
    """``setsim_partner_profile`` at q163's parameters (3-word
    shingles, J >= 1/2): the density-bounded PPJoin profile.  A timing
    row only, not a registered query: its output stays bounded where
    q163's lossless pair list outgrows the disk (SCALE.md)."""
    from alpaca_pyspark_spark.operators.dedup import setsim_partner_profile
    from alpaca_pyspark_spark.session import tune
    from alpaca_pyspark_spark.tables import load

    tune(spark)
    return setsim_partner_profile(
        load(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", shingle_k=3,
        threshold_num=1, threshold_den=2,
    )


TIMED = {**QUERIES, "q163_setsim_bounded": q163_setsim_bounded}


def input_rows(sf_dir: str) -> dict[str, int]:
    """Rows per table the corpus holds, from parquet footers (no job)."""
    return {t: n for t in TABLE_NAMES if (n := table_rows(sf_dir, t)) is not None}


def row_ratio(a_dir: str, b_dir: str) -> float:
    """Input rows of corpus B over corpus A, over the tables both hold."""
    a, b = input_rows(a_dir), input_rows(b_dir)
    shared = a.keys() & b.keys()
    return sum(b[t] for t in shared) / sum(a[t] for t in shared)


def retime_pair(spark, a_dir: str, b_dir: str, out: str,
                block: str | None = None, qids=()) -> None:
    """Time ``qids`` (default: the rows already in ``out``/``block``)
    on both corpora and merge one row each into ``out``."""
    path = Path(out)
    doc = json.loads(path.read_text()) if path.exists() else {}
    rows = doc.setdefault(block, {}) if block else doc
    a, b = Path(a_dir).name, Path(b_dir).name
    if a == b:
        sys.exit(f"row keys need distinct corpus basenames, got {a!r} twice")
    meta = rows.setdefault("_meta", {})
    held = [Path(meta[k]).name for k in ("a_dir", "b_dir") if k in meta]
    if held and held != [a, b]:
        sys.exit(f"{out}:{block or ''} holds rows for corpora {held}, not {[a, b]}")
    r = row_ratio(a_dir, b_dir)
    meta.update(a_dir=a_dir, b_dir=b_dir, r=round(r, 4))
    qids = list(qids) or [q for q in rows if q != "_meta"]
    warm_tables(spark, a_dir)
    warm_tables(spark, b_dir)
    for qid in qids:
        _, ta, na, ra, _ = time_query(spark, TIMED[qid], a_dir)
        _, tb, nb, rb, _ = time_query(spark, TIMED[qid], b_dir)
        rows[qid] = {
            f"{a}_sec": round(ta, 2),
            f"{b}_sec": round(tb, 2),
            f"{a}_rows": na,
            f"{b}_rows": nb,
            "vs_linear": round(tb / (r * ta), 2),
        }
        retimed = {k: v for k, v in ((a, ra), (b, rb)) if v}
        print(f"{qid:35s} {a} {ta:7.2f}s ({na} rows)   {b} {tb:8.2f}s "
              f"({nb} rows)   vs-linear {rows[qid]['vs_linear']:5.2f}x"
              + (f"   retimed {retimed}" if retimed else ""), flush=True)
        path.write_text(json.dumps(doc, indent=1) + "\n")


def main(argv: list[str]) -> None:
    spark = get_spark("retime-some")
    spark.sparkContext.setLogLevel("ERROR")
    if len(argv) >= 3 and argv[2].partition(":")[0].endswith(".json"):
        out, _, block = argv[2].partition(":")
        retime_pair(spark, argv[0], argv[1], out, block or None, argv[3:])
        return
    sf_dir, qids = argv[0], argv[1:]
    warm_tables(spark, sf_dir)
    out = {}
    for qid in qids:
        warm, dt, n, retime, compiles = time_query(spark, TIMED[qid], sf_dir)
        out[qid] = {"warm": round(warm, 3), "timed": round(dt, 3), "rows": n,
                    "retime": retime, "compiles": compiles}
        print(f"# {qid}: {n} rows warm={warm:.3f}s timed={dt:.3f}s"
              f" retime={retime} compiles={compiles}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
