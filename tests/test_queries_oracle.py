"""Every oracle-paired declared query must match DuckDB on the same
parquet tables — the local mirror of the driver's correctness gate."""

from __future__ import annotations

import pytest

from alpaca_pyspark_spark.canon import oracle_check, rows_only_check
from alpaca_pyspark_spark.queries import ORACLE, QUERIES

from .conftest import SF_DIR

ORACLE_PAIRED = sorted(ORACLE)
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLE))


@pytest.mark.parametrize("qid", ORACLE_PAIRED)
def test_query_matches_oracle(spark, oracle, assert_no_cache_residue, qid):
    r = oracle_check(QUERIES[qid](spark, SF_DIR), oracle, ORACLE[qid])
    assert r["hash_match"], r


@pytest.mark.parametrize("qid", ROWS_ONLY)
def test_rows_only_query_runs(spark, assert_no_cache_residue, qid):
    # the sweeps' rows-only gate: the guards over a FULL collect, so a
    # crash on ANY input row — the q165 negative-slice class — and an
    # output the driver could not hash both surface here
    df = QUERIES[qid](spark, SF_DIR)
    assert len(df.schema.fields) > 0
    assert rows_only_check(df)["err"] == "no_oracle"


def test_all_oracle_keys_have_queries():
    assert set(ORACLE) <= set(QUERIES)


def test_showcase_prefix_is_graded_cross_section():
    """The driver grades a fixed-size (50) prefix of queries():
    every prefix entry must exist, be oracle-paired (hash-gated, not
    rows-only), and the prefix must actually lead the dict."""
    import importlib.util
    from pathlib import Path

    entry_path = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("entry_mod_t", entry_path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    so = m._SHOWCASE_ORDER
    assert len(so) >= 50
    assert all(k in QUERIES for k in so), set(so) - set(QUERIES)
    # deliberately-approximate sketch ops carry a rows-only driver
    # check by design (ROTATION.md stages them with that note); they
    # still must rotate through the graded prefix to clear the
    # never-driver-graded debt, so they are allowlisted, not banned
    ROWS_ONLY_BY_DESIGN = {"q157_frequent_tokens_sketch"}
    assert all(k in ORACLE for k in so[:50] if k not in ROWS_ONLY_BY_DESIGN)
    assert list(m.queries())[:50] == so[:50]


def test_curation_invariants_span_ledger(spark, assert_no_cache_residue):
    """q186: the kept/dropped token ledger is a PARTITION of each
    document's tokens — rewrite accounting that doesn't conserve
    tokens would silently corrupt a corpus rewrite."""
    rows = QUERIES["q186_span_dedup_rewrite"](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["n_tokens_kept"] + r["n_tokens_dropped"] == r["n_tokens"]
        assert 0 <= r["n_tokens_dropped"] <= r["n_tokens"]


def test_curation_invariants_pipeline_disposition(spark, assert_no_cache_residue):
    """q189: exactly one disposition per document, only the five
    defined stages, and the DSIR keep count is the exact top-20% rule
    over the stage's survivor population."""
    from collections import Counter

    rows = QUERIES["q189_curation_pipeline"](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    c = Counter(r["disposition"] for r in rows)
    assert set(c) <= {
        "drop_repetition", "drop_stopword", "drop_exact_dup",
        "drop_dsir", "keep",
    }
    n_survivors = c.get("drop_dsir", 0) + c.get("keep", 0)
    assert c.get("keep", 0) == n_survivors // 5


def test_curation_invariants_top20_selects(spark, assert_no_cache_residue):
    """q187/q188: `selected` marks exactly floor(n/5) rows — the
    integer cross-multiplied rank rule, independent of the distributed
    rank's partitioning."""
    for qid in ("q187_dsir_importance", "q188_classifier_quality_filter"):
        rows = QUERIES[qid](spark, SF_DIR).collect()
        assert sum(r["selected"] for r in rows) == len(rows) // 5, qid


def test_q191_dsir_score_uses_ascii_whitespace_class(spark):
    """The stream-side dsir_score tokenizer must use the SAME ASCII
    whitespace class as tokens(): the explicit ``[ \\t\\n\\f\\r]`` —
    RE2's ``\\s``, which the DuckDB oracle's
    ``regexp_extract_all('\\S+')`` complements — so all three
    tokenizers agree on every character, ``\\x0B`` included (a token
    char everywhere; the old Java-``\\s`` vertical-tab exception is
    closed).  Python
    ``str.split()`` would also split on Unicode whitespace (\\xa0,
    \\u2028, \\x85): a document whose only LM-known bigram spans a
    \\xa0 would lose its DSIR weight and flip disposition vs the q189
    batch oracle.  Fixture: one doc whose ASCII-class bigram IS in the
    LM (must keep) and one whose bigram exists ONLY under Unicode
    splitting (must drop_dsir)."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.queries.llm import _q191_transform

    docs = spark.createDataFrame(
        [
            # ASCII tokens: [alpha\xa0beta, gamma, one..five] — the
            # LM bigram (alpha\xa0beta, gamma) only exists if \xa0 is
            # NOT treated as a token separator
            (1, "en", "alpha\xa0beta gamma one two three four five"),
            # ASCII tokens: [alpha, beta(U+2028)gamma, one..five] — the
            # LM bigram (beta, gamma) exists ONLY under Unicode
            # splitting; ASCII tokenization must score cnt=0
            (2, "en", "alpha beta\u2028gamma one two three four five"),
        ],
        "doc_id bigint, lang string, text string",
    )
    canon = docs.select(
        F.md5("text").alias("fp"), F.col("doc_id").alias("canon_id")
    )
    lm = {("alpha\xa0beta", "gamma"): (1, 1), ("beta", "gamma"): (1, 1)}
    bc = spark.sparkContext.broadcast((lm, 1, dict(lm)))
    try:
        out = {
            r["doc_id"]: r["disposition"]
            for r in _q191_transform(["one", "two"], canon, bc, (1, 0))(
                docs
            ).collect()
        }
    finally:
        bc.unpersist(blocking=False)
    assert out == {1: "keep", 2: "drop_dsir"}


def test_q194_q195_selection_invariants(spark, assert_no_cache_residue):
    """q194: the selection is the MAXIMAL PREFIX of the quality order
    that fits the budget whole — cum_before counts ALL better docs
    (selected or not), so the first overflow ends the selection; a
    skip-and-continue greedy walk is deliberately NOT the semantic
    (a later small doc after an overflow stays out).  q195: every
    source keeps exactly min(3, |source|) floor docs and
    floor+fill == N//5."""
    from collections import Counter

    rows = QUERIES["q194_token_budget_selection"](spark, SF_DIR).collect()
    budget = sum(r["n_tokens"] for r in rows) // 5
    sel = [r for r in rows if r["selected"]]
    assert sum(r["n_tokens"] for r in sel) <= budget
    ranked = sorted(rows, key=lambda r: (-r["quality_micro"], r["doc_id"]))
    cum = 0
    overflowed = False
    for r in ranked:
        fits = cum + r["n_tokens"] <= budget
        assert bool(r["selected"]) == fits, r
        if overflowed:
            assert not r["selected"], r  # prefix, not skip-and-continue
        overflowed = overflowed or not fits
        cum += r["n_tokens"]  # ALL docs accumulate, selected or not

    rows = QUERIES["q195_coverage_quota_selection"](spark, SF_DIR).collect()
    n = len(rows)
    c = Counter(r["disposition"] for r in rows)
    per_source = Counter(r["source"] for r in rows)
    floor_per_source = Counter(
        r["source"] for r in rows if r["disposition"] == "floor"
    )
    for src, tot in per_source.items():
        assert floor_per_source[src] == min(3, tot), src
    # fill quota = max(0, N//5 - floor_cnt): on a fixture with many
    # tiny sources the floors alone can exceed N//5 and fill is 0 —
    # pin the CONTRACT, not a property of the current data
    assert c["floor"] + c["fill"] == max(n // 5, c["floor"])


def test_q197_conservation_invariant(spark, assert_no_cache_residue):
    """q197: the crawl-to-training-shards composition conserves the
    selected corpus THROUGH the sink round-trip — per (lang, shard)
    the read-back bin totals must sum exactly to the write-ahead
    manifest totals (every kept doc in exactly one bin of one shard),
    the manifest totals must equal the q189 ledger's keep set, bins
    within a shard are contiguous from 0, and every bin except a
    shard's last one starts full (its docs' first token lands below
    the budget boundary by construction of the prefix-sum rule)."""
    from collections import defaultdict

    rows = QUERIES["q197_corpus_build"](spark, SF_DIR).collect()
    ledger = QUERIES["q189_curation_pipeline"](spark, SF_DIR).collect()
    keep = defaultdict(lambda: [0, 0])  # (lang, shard) -> [docs, tokens]
    for r in ledger:
        if r["disposition"] == "keep":
            k = (r["lang"], r["doc_id"] % 8)
            keep[k][0] += 1
            keep[k][1] += r["n_tokens"]
    got = defaultdict(lambda: [0, 0])
    manifest = {}
    bins_per_shard = defaultdict(list)
    for r in rows:
        k = (r["lang"], r["shard"])
        got[k][0] += r["n_docs"]
        got[k][1] += r["bin_tokens"]
        manifest[k] = (r["shard_docs"], r["shard_tokens"])
        bins_per_shard[k].append(r["bin"])
    assert set(got) == set(keep)
    for k in keep:
        assert tuple(keep[k]) == tuple(got[k]) == manifest[k], k
        bs = sorted(bins_per_shard[k])
        assert bs == list(range(len(bs))), k  # contiguous from 0


def test_tokens_vertical_tab_parity_with_re2(spark, oracle):
    """tokens() and the DuckDB oracles' ``\\S+`` must agree on EVERY
    character — including ``\\x0B`` (vertical tab), the one char where
    Java's ``\\s`` and RE2's ``\\s`` differ (VERDICT r8 item 5: the
    parity claim is exact, not fixture-conditional).  Both engines
    treat ``\\x0B`` as a TOKEN character and all of ``[ \\t\\n\\f\\r]``
    as separators."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.functions import tokens

    text = "a\x0bb \tc\nd\fe\rf  g"
    got = (
        spark.range(1)
        .select(tokens(F.lit(text)).alias("t"))
        .collect()[0]["t"]
    )
    want = [
        r[0]
        for r in oracle.execute(
            r"SELECT unnest(regexp_extract_all(?, '\S+'))", [text]
        ).fetchall()
    ]
    assert got == want == ["a\x0bb", "c", "d", "e", "f", "g"]


def test_fingerprint_edge_whitespace_parity_with_oracle(spark, oracle):
    """normalized_fingerprint must equal the oracles'
    ``md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))`` on
    EVERY input, including text that starts/ends in non-space
    whitespace — the case trim-first normalization silently got wrong
    ('hello\\n' → 'hello ' because trim strips only spaces; round-9
    review finding)."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.operators.text import normalized_fingerprint

    cases = ["hello\n", "\tWorld", "a\x0bb", " mid  dle ", "\r\fX\r", ""]
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = [
        r["fp"]
        for r in df.select(normalized_fingerprint("text").alias("fp"))
        .collect()
    ]
    want = [
        oracle.execute(
            r"SELECT md5(lower(trim(regexp_replace(?, '\s+', ' ', 'g'))))",
            [t],
        ).fetchone()[0]
        for t in cases
    ]
    assert got == want
