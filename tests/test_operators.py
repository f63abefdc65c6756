"""Operator-level correctness tests — especially for the rows-only
(non-SQL-expressible) paths: the numeric behavior the driver's oracle
can't check is pinned down here instead."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alpaca_pyspark_spark.functions import char_ngrams, cosine_similarity, jaccard, tokens
from alpaca_pyspark_spark.operators.adjustment import adjust_backward_split_ordered
from alpaca_pyspark_spark.operators.asof import asof_join
from alpaca_pyspark_spark.operators.bars import tumbling_bars
from alpaca_pyspark_spark.operators.dedup import (
    drop_exact_duplicates,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from alpaca_pyspark_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    synthesize_media,
)
from alpaca_pyspark_spark.operators.similarity import brute_force_topk, lsh_topk

from .conftest import SF_DIR


# ------------------------------------------------------------- as-of
def test_asof_join_matches_naive(spark):
    probe = spark.createDataFrame(
        [("A", 10, "p1"), ("A", 20, "p2"), ("A", 5, "p0"), ("B", 15, "p3")],
        "key string, t long, tag string",
    )
    state = spark.createDataFrame(
        [("A", 10, 1.0), ("A", 18, 2.0), ("B", 99, 9.0)],
        "key string, t long, v double",
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            probe, state, on=["key"], probe_ts="t", state_ts="t", value_cols=["v"]
        ).collect()
    }
    # p0: t=5, no state at or before -> NULL; p1: t=10 exact match -> 1.0
    # p2: t=20 -> latest state 18 -> 2.0; p3: B t=15, state at 99 is later -> NULL
    assert out == {"p0": None, "p1": 1.0, "p2": 2.0, "p3": None}


def test_asof_join_tolerance_boundary(spark):
    from datetime import datetime as DT

    probe = spark.createDataFrame(
        [("A", DT(2024, 1, 1, 12, 0, 0), "exact"),
         ("A", DT(2024, 1, 1, 13, 0, 0), "stale"),
         ("A", DT(2024, 1, 1, 11, 0, 1), "fresh")],
        "key string, t timestamp_ntz, tag string",
    )
    state = spark.createDataFrame(
        [("A", DT(2024, 1, 1, 11, 0, 0), 7.0)],
        "key string, t timestamp_ntz, v double",
    )
    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            probe, state, on=["key"], probe_ts="t", state_ts="t",
            value_cols=["v"], tolerance="1 HOUR",
        ).collect()
    }
    # inclusive bound: state exactly 1h old stays; 2h old expires;
    # 59m59s old stays
    assert out == {"exact": 7.0, "stale": None, "fresh": 7.0}


def test_asof_join_strict_inequality(spark):
    probe = spark.createDataFrame([("A", 10, "p1")], "key string, t long, tag string")
    state = spark.createDataFrame([("A", 10, 1.0)], "key string, t long, v double")
    out = asof_join(
        probe, state, on=["key"], probe_ts="t", state_ts="t",
        value_cols=["v"], allow_exact_matches=False,
    ).collect()
    assert out[0]["v"] is None


# -------------------------------------------------- split adjustment
def test_split_adjustment_matches_python(spark):
    prices = spark.createDataFrame(
        [("A", 1, 100.0), ("A", 5, 100.0), ("A", 9, 100.0)],
        "key string, t long, price double",
    )
    splits = spark.createDataFrame(
        [("A", 2, 2.0), ("A", 6, 1.5), ("A", 9, 3.0)],  # t=9 equals price 3 -> excluded
        "key string, t long, ratio double",
    )
    out = {
        r["t"]: r["adj_value"]
        for r in adjust_backward_split_ordered(
            prices, splits, on=["key"], price_ts="t", split_ts="t",
            price_col="price", ratio_col="ratio",
        ).collect()
    }
    assert out[1] == pytest.approx(100.0 * 2.0 * 1.5 * 3.0)
    assert out[5] == pytest.approx(100.0 * 1.5 * 3.0)
    assert out[9] == pytest.approx(100.0)  # same-instant split excluded


# ---------------------------------------------------------- bars op
def test_tumbling_bars_semantics(spark):
    ticks = spark.createDataFrame(
        [
            ("A", "2024-01-01 00:01:00", 10.0),
            ("A", "2024-01-01 10:00:00", 30.0),
            ("A", "2024-01-01 23:00:00", 20.0),
            ("A", "2024-01-02 01:00:00", 7.0),
        ],
        "sym string, ts string, price double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    bars = {
        str(r["bar_start"]): r
        for r in tumbling_bars(
            ticks, key="sym", ts="ts", price="price", interval="1 day"
        ).collect()
    }
    d1 = bars["2024-01-01 00:00:00"]
    assert (d1["open"], d1["high"], d1["low"], d1["close"]) == (10.0, 30.0, 10.0, 20.0)
    assert d1["volume"] == d1["trade_count"] == 3
    assert d1["vwap"] == pytest.approx((10.0 + 30.0 + 20.0) / 3)
    assert bars["2024-01-02 00:00:00"]["open"] == 7.0


def test_bar_rollup_equals_direct(spark):
    """Rolling 5-min bars up to 1 hour must equal computing hourly bars
    straight from ticks — the invariant that makes the continuous-
    aggregate cascade trustworthy."""
    from alpaca_pyspark_spark.operators.bars import (
        finalize_bars,
        rollup_bars,
        tumbling_bars_cents,
    )
    from alpaca_pyspark_spark.tables import load

    e = load(spark, SF_DIR, "events")
    fine = tumbling_bars_cents(e, key="user_id", ts="ts", price="value", interval="5 minutes")
    rolled = finalize_bars(rollup_bars(fine, key="user_id", interval="1 hour"))
    direct = finalize_bars(
        tumbling_bars_cents(e, key="user_id", ts="ts", price="value", interval="1 hour")
    )
    key = lambda r: (r["user_id"], r["bar_start"])  # noqa: E731
    got = {key(r): r.asDict() for r in rolled.collect()}
    want = {key(r): r.asDict() for r in direct.collect()}
    assert got == want


def test_connected_components_chain_and_clique(spark):
    """Multi-hop closure: a 5-chain collapses to one component even
    though its ends were never directly paired; cliques and singletons
    keep their own min-id labels."""
    from alpaca_pyspark_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 99]], "id long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices, vertex_id="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}


def test_bpe_tokens_semantics(spark):
    from alpaca_pyspark_spark.operators.text import bpe_tokens

    got = (
        spark.createDataFrame([("I'll pay $42.50 now",)], "t string")
        .select(bpe_tokens(F.col("t")).alias("bt"))
        .collect()[0]["bt"]
    )
    # contraction split, space-prefixed words, digit runs and
    # punctuation runs as separate pre-tokens
    assert got == ["I", "'ll", " pay", " $", "42", ".", "50", " now"]


# ------------------------------------------------------------- dedup
def _doc_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


NEAR_DUP_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3, "completely different words about spark catalyst optimizer and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5, "an unrelated short note"),
]


def test_minhash_finds_near_dups_and_skips_distinct(spark):
    df = _doc_df(spark, NEAR_DUP_DOCS)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_near_duplicates(
            df, id_col="doc_id", text_col="text", shingle_k=3, threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup pair
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert all(3 not in p and 5 not in p for p in pairs)  # distinct docs


def test_minhash_jaccard_matches_exact_jaccard(spark):
    df = _doc_df(spark, NEAR_DUP_DOCS)
    got = minhash_near_duplicates(
        df, id_col="doc_id", text_col="text", shingle_k=3, threshold=0.1
    )
    sh = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tokens(F.col("text"))) - 2),
                lambda i: F.concat_ws(" ", F.slice(tokens(F.col("text")), i, 3)),
            )
        ).alias("sh"),
    )
    for r in got.collect():
        a = sh.filter(F.col("doc_id") == r["id_a"]).collect()[0]["sh"]
        b = sh.filter(F.col("doc_id") == r["id_b"]).collect()[0]["sh"]
        exact = len(set(a) & set(b)) / len(set(a) | set(b))
        assert r["jaccard_sim"] == pytest.approx(exact)


def test_simhash_near_dups(spark):
    df = _doc_df(spark, NEAR_DUP_DOCS)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(
            df, id_col="doc_id", text_col="text", max_hamming=3
        ).collect()
    }
    assert pairs.get((1, 4)) == 0  # identical docs -> identical simhash
    assert (1, 3) not in pairs and (3, 5) not in pairs


def test_drop_exact_duplicates(spark):
    df = _doc_df(spark, NEAR_DUP_DOCS)
    kept = sorted(
        r["doc_id"] for r in drop_exact_duplicates(df, id_col="doc_id").collect()
    )
    assert kept == [1, 2, 3, 5]  # 4 is an exact dup of 1; min id wins


# -------------------------------------------------------- similarity
def test_cosine_similarity_column(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [3.0, 2.0, 1.0])], "a array<double>, b array<double>"
    )
    got = df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    expect = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert got == pytest.approx(expect, rel=1e-12)


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, dim=64, k=5, num_planes=8, max_probe_hamming=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # uniform random vectors are the worst case for sign-LSH (top
    # neighbors are ~60° away); radius-2 multiprobe at 8 planes still
    # must recover a solid fraction while scanning ~14% of the corpus
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"
    # approx scores must equal exact cosine for overlapping pairs
    ex = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in approx.collect()}
    for kk in e & a:
        assert ex[kk] == ap[kk]


def test_ivf_topk_recall_and_determinism(spark):
    from alpaca_pyspark_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, centroids=train_ivf_centroids(emb, num_cells=16), k=5, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # probing 4/16 data-adaptive cells must recover a solid fraction of
    # the true neighbors even on uniform (hardest-case) vectors
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # overlapping pairs carry the EXACT cosine (IVF prunes, never
    # perturbs scores)
    ex = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in approx.collect()}
    for kk in e & a:
        assert ex[kk] == ap[kk]
    # training is deterministic: same corpus -> bit-identical centroids
    c1 = train_ivf_centroids(emb, num_cells=8, sample_size=512)
    c2 = train_ivf_centroids(emb, num_cells=8, sample_size=512)
    assert (c1 == c2).all()


def test_ivf_topk_det_recall_and_jvm_only_assignment(spark):
    from alpaca_pyspark_spark.operators.similarity import ivf_topk, seed_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, centroids=seed_centroids(emb, 16)[1], k=5, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random-sample centroids (no k-means refinement) give rougher
    # cells than the trained quantizer, but 4/16 probes must still
    # recover a usable fraction on uniform vectors
    assert recall >= 0.2, f"IVF-det recall collapsed: {recall}"
    ex = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in approx.collect()}
    for kk in e & a:
        assert ex[kk] == ap[kk]
    # probe structure: query side broadcasts into the cell equi-join;
    # the corpus side never shuffles before candidate pruning
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cell_assigner_breaks_exact_ties_by_lower_cell(spark):
    """The oracles assign by ``ORDER BY cos DESC, c.cell``, so on an
    exact tie the assigner must list the LOWER cell index first.  16
    centroids cycle through the 3 axes (every axis repeats, so each
    vector ties across 5-6 identical centroids); at 16 cells an
    unstable argsort already reorders ties."""
    from alpaca_pyspark_spark.operators.similarity import cell_assigner

    centroids = [[float(i % 3 == a) for a in range(3)] for i in range(16)]
    vecs = spark.createDataFrame(
        [(0, [3.0, 2.0, 1.0]), (1, [2.0, 3.0, 1.0]), (2, [1.0, 2.0, 3.0])],
        "axis long, v array<double>",
    )
    for topn in (1, 4):
        got = {
            r["axis"]: r["cells"]
            for r in vecs.select(
                "axis", cell_assigner(centroids, topn)(F.col("v")).alias("cells")
            ).collect()
        }
        assert got == {a: [a, a + 3, a + 6, a + 9][:topn] for a in range(3)}, topn


def test_cell_assigner_is_stable_argsort_of_seq_cosine(spark):
    """On trained centroids the assigner's cells are exactly a numpy
    stable argsort of ``-_seq_cosine`` — the kernel and tie order the
    oracle-gated queries replay in SQL."""
    import numpy as np

    from alpaca_pyspark_spark.operators.similarity import (
        _seq_cosine,
        cell_assigner,
        train_ivf_centroids,
    )
    from alpaca_pyspark_spark.tables import load_vectors

    emb = load_vectors(spark, SF_DIR)
    C = train_ivf_centroids(emb, num_cells=16)
    v = F.col("embedding").cast("array<double>")
    for topn in (1, 4):
        rows = emb.select(
            "vec_id", v.alias("v"), cell_assigner(C, topn)(v).alias("cells")
        ).collect()
        M = np.array([r["v"] for r in rows])
        want = np.argsort(-_seq_cosine(M, C), axis=1, kind="stable")[:, :topn]
        assert [r["cells"] for r in rows] == want.tolist(), topn


def test_embedding_dedup_lsh_subset_of_exact(spark):
    from alpaca_pyspark_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_duplicates(
            emb, threshold=0.35, num_planes=None
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_duplicates(
            emb, threshold=0.35, num_planes=4, dim=64
        ).collect()
    }
    assert set(lsh) <= set(exact)  # bucketing only prunes, never invents
    for k, v in lsh.items():
        assert v == exact[k]  # same exact cosine on surviving pairs
    assert exact, "exact pass found no pairs - threshold miscalibrated"


# -------------------------------------------------------- multimodal
def test_decode_media_contract(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    media = synthesize_media(docs)
    out = decode_media(media)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert r["n_bytes"] > 0
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 48
        assert isinstance(r["thumbnail"], (bytes, bytearray))
        assert len(r["thumbnail"]) <= 8


def test_frame_sample_fanout(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    media = synthesize_media(docs)
    frames = frame_sample(media, every_n_bytes=64)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    src = {r["doc_id"]: r["n_chars"] for r in docs.filter(F.col("doc_id") % 3 == 2).collect()}
    assert per_doc, "no video rows sampled"
    for doc_id, n in per_doc.items():
        assert n == -(-src[doc_id] // 64)  # ceil(n_bytes / 64)


def test_audio_energy_windows(spark):
    from alpaca_pyspark_spark.operators.multimodal import audio_energy_windows

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    media = synthesize_media(docs)
    out = audio_energy_windows(media, window_bytes=32).collect()
    assert out, "no audio rows featurized"
    src = {
        r["doc_id"]: bytes(r["text"], "utf-8")
        for r in docs.filter(F.col("doc_id") % 3 == 1).collect()
    }
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(src)
    for doc_id, rows in by_doc.items():
        payload = src[doc_id]
        rows.sort(key=lambda r: r["window_no"])
        assert [r["window_no"] for r in rows] == list(range(len(rows)))
        assert len(rows) == -(-len(payload) // 32)  # ceil fan-out
        for r in rows:
            seg = payload[r["window_no"] * 32 : r["window_no"] * 32 + 32]
            ssq = sum(b * b for b in seg)
            assert r["n_samples"] == len(seg)
            assert r["ssq"] == ssq
            assert r["energy_milli"] == (1000 * ssq) // len(seg)


def test_resize_media_nearest_neighbor_positions(spark):
    """resize_media gathers byte (j*L)//target for j in 0..target-1 —
    verified for downsample (L > target), upsample (L < target, bytes
    repeat), and L == target (identity)."""
    from alpaca_pyspark_spark.operators.multimodal import resize_media

    rows = [
        (0, "image", bytearray(b"abcdefghijklmnopqrstuvwxyz")),  # down
        (3, "image", bytearray(b"xyz")),                          # up
        (6, "image", bytearray(b"0123456789abcdef")),             # id
        (1, "audio", bytearray(b"should-be-filtered")),
        (9, "image", bytearray(b"")),                             # empty: dropped
    ]
    df = spark.createDataFrame(
        [(i, m, bytes(c)) for i, m, c in rows],
        "doc_id long, media_type string, content binary",
    )
    out = {r["doc_id"]: r for r in resize_media(df, target_len=16).collect()}
    assert set(out) == {0, 3, 6}
    for doc_id, _, payload in rows[:3]:
        n = len(payload)
        want = bytes(payload[(j * n) // 16] for j in range(16))
        r = out[doc_id]
        assert r["n_bytes"] == n
        assert r["out_len"] == 16
        assert r["resized"] == want.decode("ascii")
        assert r["resample_checksum"] == sum(want)
    assert out[6]["resized"] == "0123456789abcdef"  # identity at L == 16


# ------------------------------------------------------------- misc
def test_char_ngrams_and_jaccard(spark):
    df = spark.createDataFrame([("abcd", "bcde")], "x string, y string")
    r = df.select(
        char_ngrams(F.col("x"), 3).alias("gx"),
        char_ngrams(F.col("y"), 3).alias("gy"),
    ).select(jaccard(F.col("gx"), F.col("gy")).alias("j")).collect()[0]
    assert r["j"] == pytest.approx(1 / 3)  # {abc,bcd} vs {bcd,cde}


# ------------------------------------------------------------- salted
def test_salted_aggregate_equals_plain(spark):
    """The skew-proof two-phase plan is a pure rewrite: bit-identical
    to the naive groupBy (integer partials are order-insensitive)."""
    from alpaca_pyspark_spark.operators.salted import salted_aggregate

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cents = F.round(F.col("l_quantity") * 100).cast("bigint")
    got = {
        r["l_returnflag"]: (r["sum_qty"], r["n_rows"])
        for r in salted_aggregate(
            li,
            keys=["l_returnflag"],
            salt_on=["l_orderkey", "l_linenumber"],
            partial_aggs={"qc": F.sum(cents), "cnt": F.count(F.lit(1))},
            final_aggs={
                "sum_qty": F.sum("qc") / 100.0,
                "n_rows": F.sum("cnt"),
            },
            salt_parts=16,
        ).collect()
    }
    want = {
        r["l_returnflag"]: (r["sum_qty"], r["n_rows"])
        for r in li.groupBy("l_returnflag")
        .agg(
            (F.sum(cents) / 100.0).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain(spark):
    from alpaca_pyspark_spark.operators.salted import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    got = salted_join(
        li,
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        on=["l_orderkey"],
        salt_on=["l_partkey", "l_linenumber"],
        salt_parts=4,
    )
    want = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).drop("o_orderkey")
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


# ----------------------------------------------------------- sampling
def test_deterministic_sample_partition_independent(spark):
    """The keep/drop set derives from row ids alone — identical under
    any repartitioning (what rand()-based sampling cannot promise)."""
    from alpaca_pyspark_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {
        r["doc_id"]
        for r in deterministic_sample(docs, id_col="doc_id", rate=0.3)
        .select("doc_id").collect()
    }
    reparted = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(7), id_col="doc_id", rate=0.3)
        .select("doc_id").collect()
    }
    assert base == reparted
    n = docs.count()
    assert 0.15 * n < len(base) < 0.45 * n  # roughly the asked rate


def test_pack_sequences_bin_assignment(spark):
    """Concatenate-and-cut semantics: a doc's bin is where its FIRST
    token lands; bins overflow (a doc straddling a boundary stays in
    the bin it started in), never split."""
    from alpaca_pyspark_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [("s", 1, 60), ("s", 2, 50), ("s", 3, 10), ("s", 4, 100), ("t", 1, 250)],
        "shard string, seq long, toks long",
    )
    got = {
        (r["shard"], r["seq"]): r["bin"]
        for r in pack_sequences(
            df, shard_cols=["shard"], order_col="seq", tokens_col="toks", budget=100
        ).collect()
    }
    # shard s prefixes: 0, 60, 110, 120 -> bins 0, 0, 1, 1
    assert got == {("s", 1): 0, ("s", 2): 0, ("s", 3): 1, ("s", 4): 1, ("t", 1): 0}


# ---------------------------------------------------------- range join
def test_bucketed_range_join_equals_naive(spark):
    """Every containing (point, interval) pair exactly once — including
    boundary points, multi-bucket spans, and bucket-straddling
    intervals — regardless of bucket width."""
    from alpaca_pyspark_spark.operators.rangejoin import bucketed_range_join

    points = spark.createDataFrame(
        [(i, f"2024-01-01 {h:02d}:{m:02d}:30") for i, (h, m) in enumerate(
            [(0, 0), (0, 59), (1, 30), (5, 0), (11, 59), (12, 0), (23, 45)]
        )],
        "pid long, ts_s string",
    ).select("pid", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    intervals = spark.createDataFrame(
        [
            (100, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
            (101, "2024-01-01 00:30:00", "2024-01-01 06:00:00"),
            (102, "2024-01-01 11:59:30", "2024-01-01 12:00:01"),
            (103, "2024-01-01 22:00:00", "2024-01-01 23:00:00"),
        ],
        "iid long, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp_ntz").alias("w_start"),
        F.col("e").cast("timestamp_ntz").alias("w_end"),
    )
    naive = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals,
            (points.ts >= intervals.w_start) & (points.ts < intervals.w_end),
        ).collect()
    }
    for bucket in (60, 3600, 86400):
        got = {
            (r["pid"], r["iid"])
            for r in bucketed_range_join(
                points, intervals, ts="ts", start="w_start", end="w_end",
                bucket_seconds=bucket,
            ).collect()
        }
        assert got == naive, f"bucket={bucket}"


# ------------------------------------------------------------ sketches
def test_hll_union_of_parts_equals_direct(spark):
    """The property that makes sketches a continuous aggregate: union
    of per-day sketches == one sketch over everything (and, at this
    cardinality, == the exact distinct count)."""
    from alpaca_pyspark_spark.tables import load

    e = load(spark, SF_DIR, "events")
    merged = (
        e.groupBy(F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("nd"))
        .collect()[0]["nd"]
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("nd")
    ).collect()[0]["nd"]
    exact = e.select("user_id").distinct().count()
    assert merged == direct == exact


# ------------------------------------------- outer/validation semantics
def test_bucketed_range_join_left_outer_keeps_unmatched_points(spark):
    """ADVICE r1: how='left' must preserve points outside every
    interval (NULL interval columns), and matched rows must equal the
    inner join."""
    from alpaca_pyspark_spark.operators.rangejoin import bucketed_range_join

    points = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (2, "2024-01-01 05:00:00")],
        "pid long, ts_s string",
    ).select("pid", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    intervals = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "iid long, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp_ntz").alias("w_start"),
        F.col("e").cast("timestamp_ntz").alias("w_end"),
    )
    rows = {
        r["pid"]: r["iid"]
        for r in bucketed_range_join(
            points, intervals, ts="ts", start="w_start", end="w_end",
            bucket_seconds=3600, how="left",
        ).collect()
    }
    assert rows == {1: 100, 2: None}

    import pytest as _pt
    with _pt.raises(ValueError, match="inner"):
        bucketed_range_join(
            points, intervals, ts="ts", start="w_start", end="w_end",
            how="full",
        )


def test_salted_join_rejects_build_preserving_how(spark):
    """ADVICE r1: replicated build side duplicates unmatched build rows
    under right/full — those join types must raise."""
    import pytest as _pt
    from alpaca_pyspark_spark.operators.salted import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    with _pt.raises(ValueError, match="probe-side-preserving"):
        salted_join(df, df, on=["k"], salt_on=["k"], how="right")
    with _pt.raises(ValueError, match="probe-side-preserving"):
        salted_join(df, df, on=["k"], salt_on=["k"], how="full")


def test_asof_join_rejects_value_col_collision(spark):
    """ADVICE r1: a state value column whose name already exists on the
    probe side would produce two ambiguous output columns — raise."""
    import pytest as _pt
    from alpaca_pyspark_spark.operators.asof import asof_join

    probe = spark.createDataFrame([(1, 10, 5.0)], "k long, ts long, value double")
    state = spark.createDataFrame([(1, 5, 7.0)], "k long, ts long, value double")
    with _pt.raises(ValueError, match="collide"):
        asof_join(
            probe, state, on=["k"], probe_ts="ts", state_ts="ts",
            value_cols=["value"],
        )


# ----------------------------------------------------- timeseries ops
def test_locf_gapfill_fills_missing_days(spark):
    from alpaca_pyspark_spark.operators.timeseries import locf_gapfill

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0), (1, "2024-01-04 09:00:00", 7.0)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "v")
    out = {
        str(r["bucket"])[:10]: r["value"]
        for r in locf_gapfill(df, keys=["k"], ts="ts", value_col="v").collect()
    }
    assert out == {
        "2024-01-01": 5.0, "2024-01-02": 5.0,
        "2024-01-03": 5.0, "2024-01-04": 7.0,
    }


def test_twap_weights_by_holding_time(spark):
    from alpaca_pyspark_spark.operators.timeseries import time_weighted_average

    # value 1.00 held 6h, then 2.00 held to day end (18h):
    # twap = (100*6 + 200*18) / 24 / 100 = 1.75
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 06:00:00", 2.0)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "v")
    rows = time_weighted_average(df, keys=["k"], ts="ts", value_col="v").collect()
    assert len(rows) == 1 and rows[0]["twap"] == 1.75 and rows[0]["n_obs"] == 2


def test_chunking_boundaries(spark):
    from alpaca_pyspark_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # < window: 1 chunk
            (2, " ".join(f"t{i}" for i in range(50))),   # == window: 1 chunk
            (3, " ".join(f"t{i}" for i in range(51))),   # 1 stride past: 2 chunks
            (4, ""),                                     # empty: dropped
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=50, stride=40).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc.get(1, [])) == 1 and by_doc[1][0]["n_tokens"] == 10
    assert len(by_doc.get(2, [])) == 1 and by_doc[2][0]["n_tokens"] == 50
    assert len(by_doc.get(3, [])) == 2
    assert by_doc[3][1]["n_tokens"] == 11  # tail chunk: tokens 41..51
    assert 4 not in by_doc


def test_bloom_prune_no_false_negatives(spark):
    from alpaca_pyspark_spark.operators.bloomjoin import bloom_prune, build_bloom

    keys = spark.range(0, 100).withColumnRenamed("id", "k")
    fact = spark.range(0, 10000).withColumnRenamed("id", "k")
    bloom = build_bloom(keys, "k", num_bits=1 << 14, num_hashes=5)
    pruned = bloom_prune(fact, bloom, "k", num_bits=1 << 14, num_hashes=5)
    kept = {r["k"] for r in pruned.collect()}
    assert set(range(100)) <= kept          # every true key survives
    assert len(kept) < 10000                # and most non-keys are pruned


def test_arrow_cosine_kernel_bit_equals_fold(spark):
    """The numpy sequential-order kernel must produce BIT-identical
    doubles to the JVM aggregate/zip_with fold (same IEEE op order) —
    the property that lets the Arrow fast path keep the exact oracle."""
    from alpaca_pyspark_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
    )
    from alpaca_pyspark_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(id_col="vec_id", vec_col="embedding", query_id="query_id", k=5)
    fold = {
        (r["query_id"], r["vec_id"]): (r["rank"], r["cos_sim"])
        for r in brute_force_topk(emb, queries, **kw).collect()
    }
    arrow = {
        (r["query_id"], r["vec_id"]): (r["rank"], r["cos_sim"])
        for r in brute_force_topk_arrow(emb, queries, **kw).collect()
    }
    assert fold == arrow  # exact equality, including the doubles


def test_blocked_all_pairs_block_count_invariant(spark):
    """The triangle block-pair join must produce the IDENTICAL pair
    set (including the doubles) for any block count, and match the
    Arrow closure baseline — the property that let it replace the
    full-corpus-collect path in registered queries."""
    from alpaca_pyspark_spark.operators.similarity import (
        all_pairs_above_arrow,
        all_pairs_above_blocked,
    )
    from alpaca_pyspark_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.3)
    want = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in all_pairs_above_arrow(emb, **kw).collect()
    }
    assert want  # fixture must exercise the operator
    for nb in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in all_pairs_above_blocked(emb, num_blocks=nb, **kw).collect()
        }
        assert got == want, f"num_blocks={nb}"


def test_knn_graph_exact_matches_brute_force(spark):
    """Each vertex's k-NN row set must equal the brute-force top-k
    treating that vertex as a query (exact graph = exact search)."""
    from alpaca_pyspark_spark.operators.similarity import (
        brute_force_topk_arrow,
        knn_graph_exact,
    )
    from alpaca_pyspark_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    graph = {
        (r["src"], r["rank"]): (r["dst"], r["cos_sim"])
        for r in knn_graph_exact(
            emb, id_col="vec_id", vec_col="embedding", k=3
        ).collect()
    }
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cos_sim"])
        for r in brute_force_topk_arrow(
            emb, queries, id_col="vec_id", vec_col="embedding",
            query_id="query_id", k=3,
        ).collect()
    }
    for key, val in bf.items():
        assert graph[key] == val


def test_knn_graph_exact_zero_vector_fails_loudly(spark):
    """Cosine is undefined for the zero vector; under Spark's
    NaN-greatest descending sort a NaN similarity would silently rank
    FIRST for every source.  The kernel must raise instead."""
    import pytest as _pytest

    from alpaca_pyspark_spark.operators.similarity import knn_graph_exact
    from alpaca_pyspark_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings").limit(10)
    dim = len(emb.select("embedding").first()[0])
    degenerate = emb.select(
        "vec_id", "embedding"
    ).unionByName(
        spark.createDataFrame(
            [(10_000, [0.0] * dim)], "vec_id long, embedding array<double>"
        )
    )
    with _pytest.raises(Exception, match="zero-norm"):
        knn_graph_exact(
            degenerate, id_col="vec_id", vec_col="embedding", k=3
        ).collect()


def test_semdedup_keep_rule_invariants(spark):
    """SemDeDup keep rule: a vector is dropped iff some LOWER-id
    cell-mate is within the threshold; in particular the lowest id of
    every cell is always kept."""
    from alpaca_pyspark_spark.functions import cosine_similarity
    from alpaca_pyspark_spark.operators.similarity import semdedup
    from alpaca_pyspark_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    out = semdedup(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.25, num_cells=8
    )
    rows = out.collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append((r["vec_id"], r["kept"]))
    dropped = sum(1 for r in rows if not r["kept"])
    assert dropped > 0  # fixture must exercise the drop path
    for cell, members in by_cell.items():
        members.sort()
        assert members[0][1], f"lowest id of cell {cell} must be kept"
    # spot-verify the pairwise justification for a few dropped ids
    sample_dropped = [r["vec_id"] for r in rows if not r["kept"]][:5]
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cell_of = {r["vec_id"]: r["cell"] for r in rows}
    for d in sample_dropped:
        mates = [
            i for i, c in cell_of.items() if c == cell_of[d] and i < d
        ]
        a = v.filter(F.col("vec_id") == d).select(
            F.col("v").alias("va")
        )
        sims = (
            v.filter(F.col("vec_id").isin(mates))
            .crossJoin(a)
            .select(cosine_similarity(F.col("va"), F.col("v")).alias("c"))
            .collect()
        )
        assert any(r["c"] >= 0.25 for r in sims), d


# ------------------------------------------------------------- ids
def test_assign_stable_ids_partition_count_independent(spark):
    """The range-partition numbering must equal the single-partition
    window for ANY partition count — offsets correct for wherever the
    range boundaries fall."""
    from alpaca_pyspark_spark.operators.ids import assign_stable_ids

    from pyspark.sql import Window

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    want = {
        r["doc_id"]: r["rn"]
        for r in docs.select(
            "doc_id",
            F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("rn"),
        ).collect()
    }
    for n_parts in (3, 32):
        got = {
            r["doc_id"]: r["row_id"]
            for r in assign_stable_ids(
                docs, ["n_chars", "doc_id"], num_partitions=n_parts
            ).collect()
        }
        assert got == want, f"numbering diverged at num_partitions={n_parts}"


def test_assign_stable_ids_total_col_and_descending(spark):
    """total_col attaches the exact global row count to every row, and
    descending order via BIGINT negation ranks highest-first — the
    top-share selection pattern (rank*K <= total) q187/q188/q189 use."""
    from alpaca_pyspark_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    n_docs = docs.count()
    out = assign_stable_ids(
        docs.withColumn("_neg", -F.col("n_chars")),
        ["_neg", "doc_id"],
        id_col="rk",
        num_partitions=7,
        total_col="n_total",
    ).collect()
    assert all(r["n_total"] == n_docs for r in out)
    ranked = sorted(out, key=lambda r: r["rk"])
    assert [r["rk"] for r in ranked] == list(range(1, n_docs + 1))
    # rank 1 = largest n_chars; ties broken by doc_id ascending
    assert ranked[0]["n_chars"] == max(r["n_chars"] for r in out)
    for a, b in zip(ranked, ranked[1:]):
        assert (a["n_chars"], -a["doc_id"]) >= (b["n_chars"], -b["doc_id"])


def test_assign_stable_ids_rejects_column_collisions(spark):
    """id_col/total_col colliding with an input column must fail at
    call time with a clear error, not at runtime with an Arrow schema
    mismatch."""
    import pytest

    from alpaca_pyspark_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    with pytest.raises(ValueError, match="already"):
        assign_stable_ids(docs, ["n_chars", "doc_id"], id_col="doc_id")
    with pytest.raises(ValueError, match="already"):
        assign_stable_ids(
            docs, ["n_chars", "doc_id"], id_col="rk", total_col="n_chars"
        )


def test_frequent_items_mg_guarantees(spark):
    from alpaca_pyspark_spark.operators.sketches import frequent_items

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tok = docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t")).filter(
        F.col("t") != ""
    )
    exact = {r["t"]: r["c"] for r in tok.groupBy("t").agg(F.count(F.lit(1)).alias("c")).collect()}
    n = sum(exact.values())
    cap = 64
    sk = frequent_items(tok, item_col="t", capacity=cap, verify=True)
    rows = {r["item"]: r for r in sk.collect()}
    # (1) superset guarantee: every item above the 2n/(cap+1) floor
    # survives the per-partition sketches and the merge
    floor = 2 * n / (cap + 1)
    for item, c in exact.items():
        if c > floor:
            assert item in rows, f"heavy hitter lost: {item} ({c} > {floor})"
    # (2) estimates never exceed the truth (MG only undercounts)
    for item, r in rows.items():
        assert r["est_count"] <= exact[item], (item, r["est_count"], exact[item])
        # (3) verify=True re-counts exactly
        assert r["true_count"] == exact[item]
        # (4) undercount bounded by n/(cap+1) summed over partitions is
        # loose; the end-to-end merged bound is n/(cap+1) per partition
        # — assert the global floor instead: est >= true - n/(cap+1)*parts
    assert rows, "sketch returned nothing"


def test_rendezvous_rebalance_moves_only_to_added_shards(spark):
    """HRW minimal-disruption invariant: growing 8 -> 10 shards can
    only move a key whose 10-shard argmax is one of the ADDED shards
    (8 or 9) — the old argmax over shards 0-7 is unchanged otherwise."""
    from .conftest import SF_DIR
    from alpaca_pyspark_spark.queries.warehouse import q167_rendezvous_rebalance

    rows = q167_rendezvous_rebalance(spark, SF_DIR).collect()
    assert rows, "expected at least one migration-matrix cell"
    for r in rows:
        if r["moved"]:
            assert r["new_shard"] in (8, 9), r
        else:
            assert r["old_shard"] == r["new_shard"], r


def test_assign_stable_ids_distributed_prefix_sum(spark):
    """cumsum_col must equal the single-partition window
    ``sum(w) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND
    1 PRECEDING)`` bit-for-bit at any partition count — the q194
    budget-selection contract."""
    from pyspark.sql import Window

    from alpaca_pyspark_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    w = Window.orderBy("n_chars", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = {
        r["doc_id"]: r["cb"]
        for r in docs.select(
            "doc_id",
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cb"),
        ).collect()
    }
    for n_parts in (3, 32):
        got = {
            r["doc_id"]: r["cum_before"]
            for r in assign_stable_ids(
                docs,
                ["n_chars", "doc_id"],
                num_partitions=n_parts,
                weight_col="n_chars",
                cumsum_col="cum_before",
            ).collect()
        }
        assert got == want, f"prefix sum diverged at num_partitions={n_parts}"


def test_assign_stable_ids_cumsum_requires_weight(spark):
    import pytest

    from alpaca_pyspark_spark.operators.ids import assign_stable_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    with pytest.raises(ValueError, match="go together"):
        assign_stable_ids(docs, ["doc_id"], cumsum_col="cb")
    with pytest.raises(ValueError, match="already"):
        assign_stable_ids(
            docs, ["doc_id"], weight_col="n_chars", cumsum_col="n_chars"
        )


def _pq_fixture_rows():
    """Deterministic integer subspace frame: 40 vectors x 8 subspaces
    x 8 lanes, values in [-498, 498] — small enough to replay in numpy,
    irregular enough that every codebook entry trains."""
    return [
        (v, s, [((v * 37 + s * 11 + l * 7) ** 2 % 997) - 498 for l in range(8)])
        for v in range(40)
        for s in range(8)
    ]


def _pq_numpy_twin(rows, k=16, lanes=8):
    """Replays _pq_train_encode exactly in numpy/python ints: md5-seed
    choice, integer argmin with (dist, j) tie-break, HALF-UP grid-
    rounded means, empty-cluster seed fallback, encode.  Returns
    (codebook dict[(s, j)] -> tuple, codes dict[(vec_id, s)] -> j,
    seed_sse, trained_sse)."""
    import hashlib

    vecs = sorted({v for v, _, _ in rows})
    subq = {(v, s): q for v, s, q in rows}
    subspaces = sorted({s for _, s, _ in rows})
    h = lambda v: int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)  # noqa: E731
    seeds = sorted(vecs, key=lambda v: (h(v), v))[:k]
    seed_cb = {(s, j): tuple(subq[(sv, s)]) for j, sv in enumerate(seeds) for s in subspaces}

    def argmin(q, cb):
        best = None
        for j in range(k):
            d = sum((a - b) * (a - b) for a, b in zip(q, cb[j]))
            if best is None or (d, j) < best[:2]:
                best = (d, j)
        return best  # (dist, j)

    seed_sse, members = 0, {}
    for v in vecs:
        for s in subspaces:
            d, j = argmin(subq[(v, s)], {j: seed_cb[(s, j)] for j in range(k)})
            seed_sse += d
            members.setdefault((s, j), []).append(subq[(v, s)])
    # python // is FLOOR division (same convention as F.floor of the
    # exact-in-double division for these magnitudes, negatives included)
    codebook = {
        (s, j): tuple(
            (2 * sum(m[l] for m in members[(s, j)]) + len(members[(s, j)]))
            // (2 * len(members[(s, j)]))
            for l in range(lanes)
        )
        if members.get((s, j))
        else seed_cb[(s, j)]
        for s in subspaces
        for j in range(k)
    }
    codes, trained_sse = {}, 0
    for v in vecs:
        for s in subspaces:
            d, j = argmin(subq[(v, s)], {j: codebook[(s, j)] for j in range(k)})
            codes[(v, s)] = j
            trained_sse += d
    return codebook, codes, seed_sse, trained_sse


def test_pq_train_encode_matches_numpy_twin(spark):
    """The distributed PQ trainer must reproduce the sequential
    reference bit-for-bit: same md5 seeds, same integer argmins and
    tie-breaks, same HALF-UP grid-rounded means, same codes."""
    from alpaca_pyspark_spark.queries.llm import _pq_train_encode

    rows = _pq_fixture_rows()
    df = spark.createDataFrame(rows, "vec_id long, s int, subq array<long>")
    codebook, codes = _pq_train_encode(df)
    want_cb, want_codes, _, _ = _pq_numpy_twin(rows)
    got_cb = {(r["s"], r["j"]): tuple(r["cq"]) for r in codebook.collect()}
    got_codes = {(r["vec_id"], r["s"]): r["code"] for r in codes.collect()}
    assert got_cb == want_cb
    assert got_codes == want_codes


def test_pq_train_encode_partition_invariant(spark):
    """Codebook and codes must not depend on input partitioning — the
    property that makes the trainer's answer stable on any cluster
    layout (argmins are struct-min aggregates; means are integer sums)."""
    from alpaca_pyspark_spark.queries.llm import _pq_train_encode

    rows = _pq_fixture_rows()
    outs = []
    for n_parts in (1, 13):
        df = spark.createDataFrame(
            rows, "vec_id long, s int, subq array<long>"
        ).repartition(n_parts)
        codebook, codes = _pq_train_encode(df)
        outs.append(
            (
                sorted((r["s"], r["j"], tuple(r["cq"])) for r in codebook.collect()),
                sorted((r["vec_id"], r["s"], r["code"]) for r in codes.collect()),
            )
        )
    assert outs[0] == outs[1]


def test_pq_lloyd_iteration_distortion_bound():
    """k-means monotonicity survives the grid rounding: total trained
    distortion <= seed distortion + N_subvectors * lanes / 4 (each
    rounded mean sits within half a grid step per lane of the true
    SSE-minimizing mean — the exact worst-case slack)."""
    rows = _pq_fixture_rows()
    _, _, seed_sse, trained_sse = _pq_numpy_twin(rows)
    n_subvectors = len(rows)
    assert trained_sse <= seed_sse + n_subvectors * 8 / 4
    # and the iteration actually helps on this fixture, not just bounds
    assert trained_sse < seed_sse


def test_lsh_planes_dial_matches_sql_rule():
    """q206's oracle derives the plane count in SQL as
    LEAST(16, GREATEST(3, LENGTH(BIN(n // 32)))) — pin that the
    Python rule (bit_length) and the DuckDB rule agree for every
    corpus size class, including the 0/boundary cases, or the dialed
    oracle would silently compare different bucketings."""
    import duckdb

    from alpaca_pyspark_spark.operators.similarity import lsh_planes_dial

    con = duckdb.connect()
    ns = list(range(0, 200)) + [
        2**k + d for k in range(5, 40) for d in (-1, 0, 1)
    ] + [31, 32, 33, 63, 64, 65, 10**6, 10**9, 2**62]
    for n in ns:
        sql, = con.execute(
            f"SELECT LEAST(16, GREATEST(3, LENGTH(BIN({n} // 32))))"
        ).fetchone()
        assert lsh_planes_dial(n) == sql, n
