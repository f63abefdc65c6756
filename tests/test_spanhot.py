"""Hot-hash prefilter (``hot_hash_candidates``), the form of q186 that
q210 runs under the oracle: it must keep every row of every string at
its floor, and the prefiltered q186 and q114 must be result-identical
to their one-pass forms on tie-heavy, NULL-bearing, and boundary
data."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from alpaca_pyspark_spark.operators.text import hot_hash_candidates
from alpaca_pyspark_spark.queries.llm import _q186_onepass, _q186_prefiltered
from alpaca_pyspark_spark.queries.search import _q114_aggregate, _q114_shingles
from alpaca_pyspark_spark.session import release_scoped_caches


@pytest.fixture(autouse=True)
def _drain_caches():
    yield
    release_scoped_caches()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _cmp(a, b):
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


def _tie_heavy_corpus(seed: int, n_docs: int):
    """Small vocab -> many repeated 8-token spans across docs, plus
    boundary docs: exactly 8 tokens, 7 tokens (no span), empty string,
    NULL text, and a doc duplicated verbatim."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(8, 40))))
        for i in range(n_docs)
    ]
    rows += [
        (n_docs + 1, " ".join(vocab[:8])),          # exactly one span
        (n_docs + 2, " ".join(vocab[:7])),          # below span width
        (n_docs + 3, ""),                           # empty text
        (n_docs + 4, None),                         # NULL text
        (n_docs + 5, rows[0][1]),                   # verbatim duplicate
    ]
    return rows


def test_q186_tier_parity_tie_heavy(spark):
    docs = _docs(spark, _tie_heavy_corpus(7, 120))
    _cmp(_q186_onepass(docs), _q186_prefiltered(docs))


def test_q186_tier_parity_no_duplicates(spark):
    # every span unique -> the hot set is empty and the prefiltered
    # window input is empty; the ledger must still cover every doc
    rows = [
        (i, " ".join(f"u{i}_{j}" for j in range(20))) for i in range(30)
    ]
    docs = _docs(spark, rows)
    one, pre = _q186_onepass(docs), _q186_prefiltered(docs)
    assert pre.count() == 30
    _cmp(one, pre)


def _q114_prefiltered(docs):
    return _q114_aggregate(hot_hash_candidates(_q114_shingles(docs), "passage", 3))


def test_q114_tier_parity_tie_heavy(spark):
    docs = _docs(spark, _tie_heavy_corpus(13, 120))
    _cmp(_q114_aggregate(_q114_shingles(docs)), _q114_prefiltered(docs))


def test_q114_tier_parity_threshold_edge(spark):
    # passages at exactly 2 vs exactly 3 docs straddle the >=3 floor:
    # the prefilter's hash count must keep the 3-doc passage complete
    base = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (1, base + " x1"),
        (2, base + " x2"),
        (3, base + " x3"),              # base passage in exactly 3 docs
        (4, "q1 q2 q3 q4 q5 q6 q7 q8 y1"),
        (5, "q1 q2 q3 q4 q5 q6 q7 q8 y2"),  # q-passage in exactly 2 docs
    ]
    docs = _docs(spark, rows)
    exact = _q114_aggregate(_q114_shingles(docs))
    pre = _q114_prefiltered(docs)
    got = {r["passage"]: r["doc_ids"] for r in pre.collect()}
    assert got == {base: "1,2,3"}
    _cmp(exact, pre)


def test_hot_hash_candidates_keeps_every_hot_row(spark):
    rng = random.Random(3)
    rows = [(i, f"s{rng.randrange(0, 40)}") for i in range(500)]
    df = spark.createDataFrame(rows, "rid long, s string")
    out = hot_hash_candidates(df, "s", 2)
    # exact per-string counts: every string with >=2 occurrences must
    # survive with ALL its rows (collisions may only ADD, never drop)
    from collections import Counter

    cnt = Counter(s for _, s in rows)
    hot_rows = {(i, s) for i, s in rows if cnt[s] >= 2}
    got = {(r["rid"], r["s"]) for r in out.collect()}
    assert hot_rows <= got
    # and no row is ever duplicated by the 1:1 hash join
    assert out.count() == len(got)


def test_hot_hash_candidates_passes_caller_h_column(spark):
    # an input that already carries an __h column: it must pass
    # through untouched, and the kept rows must equal the one-pass
    # exact count filter on the true string
    from pyspark.sql import Window

    rng = random.Random(5)
    rows = [(i, f"s{rng.randrange(0, 100)}", -i) for i in range(150)]
    df = spark.createDataFrame(rows, "rid long, s string, __h long")
    got = hot_hash_candidates(df, "s", 2)
    assert got.columns == df.columns
    one_pass = (
        df.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .filter(F.col("__n") >= 2)
        .drop("__n")
    )
    assert 0 < one_pass.count() < len(rows)
    _cmp(one_pass, got)


def test_q210_forced_tier_equals_q186_half_corpus(spark):
    # the registered prefiltered form must land on rows identical to
    # q186's one-pass plan over the same half-corpus population
    import os

    from alpaca_pyspark_spark.queries.llm import (
        q210_span_dedup_prefiltered,
    )
    from alpaca_pyspark_spark.tables import load

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 2 == 0)
    _cmp(_q186_onepass(docs), q210_span_dedup_prefiltered(spark, sf))
