"""Prefix-bucket trailing window (operators/rangewindow.py, the
hot-key tier) — must be bit-identical to the plain per-key RANGE
window for count + exact-integer sums, including on frame-boundary
ties (an event exactly W before another), NULL sum values (NULL-iff-
empty semantics), bucket widths that do not divide the frame, and
single-bucket degenerate spans."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

import alpaca_pyspark_spark.operators.rangewindow as rw
from alpaca_pyspark_spark.operators import dispatch

W = 1_000_000  # 1 s frame, in µs
DAY_US = 24 * 3600 * 1_000_000


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "rid long, user_id long, us long, value long"
    )


def _plain_ref(df, window_us=W):
    return rw._plain(
        df,
        key="user_id",
        order_us="us",
        window_us=window_us,
        sums={"sum_w": F.col("value")},
        count_alias="n_w",
    )


def _rows(df):
    return sorted(
        (r["rid"], r["user_id"], r["n_w"], r["sum_w"]) for r in df.collect()
    )


def _rand_rows(seed, keys=4, per_key=300, null_every=7):
    rng = random.Random(seed)
    rows, rid = [], 0
    base = 1_700_000_000_000_000  # realistic epoch µs magnitude
    for k in range(1, keys + 1):
        t = base
        for i in range(per_key):
            # mixed gaps: sub-frame, exactly-frame, super-frame, ties
            step = rng.choice([0, 1, 137, W // 3, W - 1, W, W + 1, 3 * W])
            t += step
            v = None if rid % null_every == 0 else rng.randint(-500, 500)
            rows.append((rid, k, t, v))
            rid += 1
    return rows


def test_prefix_bucket_equals_plain_random(spark):
    """Random tie-heavy NULL-bearing data across several keys, with
    per-key bucket widths chosen adversarially: G < W not dividing W
    (twice, incl. a prime), G == W, and G > W.  (G must keep span/G
    bounded — the dispatcher guarantees <= PREFIX_MAX_BUCKETS — so the
    degenerate-minimal-G case lives in the zero-span ties test below.)"""
    rows = _rand_rows(1)
    df = _mk(spark, rows)
    widths = {1: 333_333, 2: W, 3: 7 * W, 4: 99_991}
    got = rw.trailing_count_sums_prefix_bucket(
        df,
        key="user_id",
        order_us="us",
        window_us=W,
        row_id="rid",
        sums={"sum_w": F.col("value")},
        count_alias="n_w",
        bucket_widths=widths,
    )
    assert _rows(got) == _rows(_plain_ref(df))
    assert got.columns == df.columns + ["n_w", "sum_w"]


def test_prefix_bucket_all_ties_single_bucket(spark):
    """Degenerate span: every event of a key at the SAME position —
    the probe would choose G=1 and a single-bucket spine; the RANGE
    frame holds all ties for every row."""
    rows = [(i, 1, 1_700_000_000_000_000, (i % 3) or None) for i in range(40)]
    df = _mk(spark, rows)
    got = rw.trailing_count_sums_prefix_bucket(
        df,
        key="user_id",
        order_us="us",
        window_us=W,
        row_id="rid",
        sums={"sum_w": F.col("value")},
        count_alias="n_w",
        bucket_widths={1: 1},
    )
    assert _rows(got) == _rows(_plain_ref(df))


def test_prefix_bucket_all_null_frame_sum_is_null(spark):
    """NULL-iff-empty SUM semantics: a frame whose every value is NULL
    must yield sum NULL (not 0) with a positive count, exactly like
    the plain window — the decomposed non-null-count guard."""
    t0 = 1_700_000_000_000_000
    rows = [
        (0, 1, t0, None),
        (1, 1, t0 + 10, None),          # frame {0,1}: all NULL
        (2, 1, t0 + 5 * W, 7),          # far later: frame {2}
    ]
    df = _mk(spark, rows)
    got = rw.trailing_count_sums_prefix_bucket(
        df,
        key="user_id",
        order_us="us",
        window_us=W,
        row_id="rid",
        sums={"sum_w": F.col("value")},
        count_alias="n_w",
        bucket_widths={1: W // 4},
    ).collect()
    by_rid = {r["rid"]: r for r in got}
    assert (by_rid[1]["n_w"], by_rid[1]["sum_w"]) == (2, None)
    assert (by_rid[2]["n_w"], by_rid[2]["sum_w"]) == (1, 7)
    assert _rows(_mk(spark, rows).transform(_plain_ref)) == _rows(
        _mk(spark, rows).transform(
            lambda d: rw.trailing_count_sums_prefix_bucket(
                d,
                key="user_id",
                order_us="us",
                window_us=W,
                row_id="rid",
                sums={"sum_w": F.col("value")},
                count_alias="n_w",
                bucket_widths={1: W // 4},
            )
        )
    )


def test_prefix_bucket_global_int_width_equals_map(spark):
    """q208's path: ``bucket_widths`` as ONE int applied to all keys
    must equal the per-key map spelling of the same width (and hence
    the plain window, via the parity pinned above)."""
    rows = _rand_rows(4, keys=3, per_key=120)
    df = _mk(spark, rows)
    kw = dict(
        key="user_id", order_us="us", window_us=W, row_id="rid",
        sums={"sum_w": F.col("value")}, count_alias="n_w",
    )
    got_int = rw.trailing_count_sums_prefix_bucket(
        df, bucket_widths=333_333, **kw
    )
    got_map = rw.trailing_count_sums_prefix_bucket(
        df, bucket_widths={k: 333_333 for k in (1, 2, 3)}, **kw
    )
    assert _rows(got_int) == _rows(got_map) == _rows(_plain_ref(df))


def test_prefix_bucket_rejects_non_integer_sum(spark):
    """Exact addition is the decomposition's correctness basis — a
    double-typed sum must be rejected loudly, not silently diverge by
    association order."""
    df = _mk(spark, [(0, 1, 1_700_000_000_000_000, 1)]).withColumn(
        "dv", F.col("value").cast("double")
    )
    with pytest.raises(ValueError, match="integer"):
        rw.trailing_count_sums_prefix_bucket(
            df,
            key="user_id",
            order_us="us",
            window_us=W,
            row_id="rid",
            sums={"sum_w": F.col("dv")},
            count_alias="n_w",
            bucket_widths={1: W},
        )


def _boundary_rows():
    """Four keys over 5 days (key 1 hot), plus key-1 rows EXACTLY on
    day boundaries and exactly one 24h window apart (the >= vs > edge),
    two NULL-ordered key-1 rows (one with a NULL value) and a NULL key."""
    rng = random.Random(19)
    t0 = datetime(2024, 1, 1)
    epoch = datetime(1970, 1, 1)
    rows, rid = [], 0

    def us(ts):
        return (ts - epoch) // timedelta(microseconds=1)

    for k in range(1, 5):
        for _ in range(200 if k == 1 else 25):
            rid += 1
            ts = t0 + timedelta(
                seconds=rng.randint(0, 5 * 86400),
                microseconds=rng.randint(0, 999999),
            )
            rows.append((rid, k, us(ts), rng.randint(-100, 100)))
    for d in (0, 1, 2):
        rid += 1
        rows.append((rid, 1, us(t0 + timedelta(days=d)), 7))
    rows += [
        (rid + 1, 1, None, 5),
        (rid + 2, 1, None, None),
        (rid + 3, None, us(t0 + timedelta(hours=3)), 9),
    ]
    return rows


def test_adaptive_two_tiers_engage_and_agree(spark, monkeypatch):
    """Force both tiers live in one call — cold keys, a dense hot key
    (many rows per frame) and a sparse hot key (rows spread over ~40
    frames) — plus NULL keys and NULL-ordered rows, and pin parity with
    the plain window over the whole input; then the same on a 24h
    corpus with rows exactly on day boundaries and one window apart."""
    # pin the probe's relative floor (2·total/partitions) so key 2's
    # 200 rows stay hot on any core count
    monkeypatch.setattr(dispatch, "_shuffle_partitions", lambda spark: 32)
    monkeypatch.setattr(rw, "RANGE_HOT_MIN_ROWS", 50)
    monkeypatch.setattr(rw, "PREFIX_MIN_BUCKETS", 4)
    monkeypatch.setattr(rw, "PREFIX_TARGET_BUCKET_ROWS", 25)
    rng = random.Random(2)
    base = 1_700_000_000_000_000
    rows, rid = [], 0
    # dense hot: 300 rows crammed inside ~2 frames
    t = base
    for _ in range(300):
        t += rng.randint(0, W // 150)
        rows.append((rid, 1, t, rng.randint(-9, 9) if rid % 5 else None))
        rid += 1
    # sparse hot: 200 rows spread over ~40 frames
    t = base
    for _ in range(200):
        t += rng.randint(0, W // 5)
        rows.append((rid, 2, t, rng.randint(-9, 9)))
        rid += 1
    # cold keys, NULL key, NULL order
    for k in (3, 4):
        t = base
        for _ in range(10):
            t += rng.randint(0, 2 * W)
            rows.append((rid, k, t, rng.randint(-9, 9)))
            rid += 1
    rows += [(rid, None, base + 5, 3), (rid + 1, 2, None, 4), (rid + 2, 1, None, None)]
    kw = dict(
        key="user_id",
        order_us="us",
        row_id="rid",
        sums={"sum_w": F.col("value")},
        count_alias="n_w",
    )
    for corpus, window_us, hot in (
        (rows, W, {1, 2}),
        (_boundary_rows(), DAY_US, {1}),
    ):
        df = _mk(spark, corpus)
        got = rw.trailing_count_sums_adaptive(df, window_us=window_us, **kw)
        assert _rows(got) == _rows(_plain_ref(df, window_us))
        # the dispatch actually split: the probe flags exactly these keys
        probed = dispatch.hot_keys(df, "user_id", 50, order_us="us")
        assert {k for k, _, _ in probed} == hot
