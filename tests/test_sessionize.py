"""Skew-safe sessionization (two-level time-bucket pre-split +
boundary-island stitch) — the pre-split path must be OUTPUT-IDENTICAL
to the single-pass gaps-and-islands window, which the sf-gate only
exercises for small uniform data (the adaptive dispatch routes it to
the single pass there).  These tests force the pre-split on crafted
bucket-boundary edge cases and on seeded random streams."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from alpaca_pyspark_spark.operators import dispatch
from alpaca_pyspark_spark.operators import sessionize as sz

GAP = "30 minutes"
BUCKET = "2 hours"
T0 = datetime(2024, 1, 1, 0, 0, 0)


def _mk(spark, rows):
    return spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rows)],
        "user_id long, ts timestamp_ntz, event_id long",
    )


def _summary_rows(df, key="user_id"):
    return sorted(
        (r["user_id"], r["session_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in df.collect()
    )


EDGE_ROWS = []
# key 1: continuous 10-min cadence across 3 bucket boundaries -> ONE session
EDGE_ROWS += [(1, T0 + timedelta(minutes=10 * i)) for i in range(40)]
# key 2: exactly gap apart straddling the 02:00 bucket edge -> same session
EDGE_ROWS += [(2, datetime(2024, 1, 1, 1, 45)), (2, datetime(2024, 1, 1, 2, 15))]
# key 3: gap + 1 microsecond straddling the edge -> two sessions
EDGE_ROWS += [
    (3, datetime(2024, 1, 1, 1, 45)),
    (3, datetime(2024, 1, 1, 2, 15, 0, 1)),
]
# key 4: an entirely EMPTY bucket between two events -> two sessions
EDGE_ROWS += [(4, datetime(2024, 1, 1, 1, 59, 59)), (4, datetime(2024, 1, 1, 4, 0, 1))]
# key 5: dense burst strictly interior to one bucket (never stitches)
EDGE_ROWS += [(5, datetime(2024, 1, 1, 2, 50) + timedelta(minutes=i)) for i in range(10)]
# key 6: single event exactly ON a bucket boundary
EDGE_ROWS += [(6, datetime(2024, 1, 1, 2, 0, 0))]
# key 7: events at the last/first instant of adjacent buckets (1 us gap)
EDGE_ROWS += [
    (7, datetime(2024, 1, 1, 1, 59, 59, 999999)),
    (7, datetime(2024, 1, 1, 2, 0, 0)),
]


def test_presplit_summary_equals_single_pass_on_edges(spark):
    df = _mk(spark, EDGE_ROWS).select("user_id", "ts")
    got = sz.session_summary_skew_safe(
        df, key="user_id", ts="ts", gap=GAP, bucket=BUCKET
    )
    want = sz.session_summary(df, key="user_id", ts="ts", gap=GAP)
    assert _summary_rows(got) == _summary_rows(want)
    # key 1 merged across boundaries; key 2/7 one session; key 3/4 two
    per_key = {}
    for k, sid, *_ in _summary_rows(want):
        per_key[k] = max(per_key.get(k, 0), sid)
    assert per_key[1] == 1 and per_key[2] == 1 and per_key[7] == 1
    assert per_key[3] == 2 and per_key[4] == 2


@pytest.mark.parametrize("bucket", ["30 minutes", "1 hour", "1 day"])
def test_presplit_summary_equals_single_pass_random(spark, bucket):
    rng = random.Random(42)
    rows = []
    for k in range(1, 8):
        t = T0
        for _ in range(rng.randint(5, 120)):
            t = t + timedelta(seconds=rng.randint(1, 4000))
            rows.append((k, t))
    df = _mk(spark, rows).select("user_id", "ts")
    got = sz.session_summary_skew_safe(
        df, key="user_id", ts="ts", gap=GAP, bucket=bucket
    )
    want = sz.session_summary(df, key="user_id", ts="ts", gap=GAP)
    assert _summary_rows(got) == _summary_rows(want)


def test_presplit_openings_equals_single_pass(spark):
    rng = random.Random(7)
    rows = list(EDGE_ROWS)
    for k in range(8, 12):
        t = T0
        for _ in range(rng.randint(10, 80)):
            t = t + timedelta(seconds=rng.randint(1, 4000))
            rows.append((k, t))
    df = _mk(spark, rows)
    kw = dict(
        key="user_id",
        ts="ts",
        gap=GAP,
        order_extra=("event_id",),
        head_cols=("event_id",),
        head_k=3,
    )
    got = sz.session_openings_skew_safe(df, bucket=BUCKET, **kw)
    want = sz._openings_single_pass(df, **kw)

    def rows_of(d):
        return sorted(
            (r["user_id"], r["session_start"], tuple(map(tuple, r["__head"])))
            for r in d.collect()
        )

    assert rows_of(got) == rows_of(want)


def test_presplit_null_ts_gloms_like_single_pass(spark):
    rows = [(1, None), (1, None), (1, datetime(2024, 1, 1, 5, 0))]
    rows += [(1, datetime(2024, 1, 1, 9, 0)), (2, None)]
    df = _mk(spark, rows).select("user_id", "ts")
    got = sz.session_summary_skew_safe(
        df, key="user_id", ts="ts", gap=GAP, bucket=BUCKET
    )
    want = sz.session_summary(df, key="user_id", ts="ts", gap=GAP)
    assert _summary_rows(got) == _summary_rows(want)
    # NULL-ts parity detail: lag() of a NULL ts is NULL, so EVERY
    # null-ts row trips the prev_ts.isNull() new-session flag — each
    # null row is a singleton session and the first real event starts
    # the next one, in BOTH plans (keys sort NULLS FIRST).
    key1 = [r for r in _summary_rows(want) if r[0] == 1]
    assert [r[4] for r in key1] == [1, 1, 1, 1]  # 2 null singletons + 2 real


def test_bucket_below_gap_rejected(spark):
    df = _mk(spark, [(1, T0)]).select("user_id", "ts")
    with pytest.raises(ValueError, match="bucket"):
        sz.session_summary_skew_safe(
            df, key="user_id", ts="ts", gap="30 minutes", bucket="10 minutes"
        )


def test_hot_key_dispatch(spark, monkeypatch):
    rows = [(1, T0 + timedelta(seconds=i)) for i in range(400)]
    rows += [(k, T0 + timedelta(seconds=k)) for k in range(2, 30)]
    df = _mk(spark, rows).select("user_id", "ts")
    # real thresholds: nothing hot
    assert dispatch.hot_keys(df, "user_id", sz.HOT_MIN_ROWS) == []
    monkeypatch.setattr(sz, "HOT_MIN_ROWS", 100)
    assert dispatch.hot_keys(df, "user_id", sz.HOT_MIN_ROWS) == [1]
    got = sz.session_summary_adaptive(df, key="user_id", ts="ts", gap=GAP)
    want = sz.session_summary(df, key="user_id", ts="ts", gap=GAP)
    assert _summary_rows(got) == _summary_rows(want)


def test_shuffle_partitions_tolerates_auto(spark):
    """Platforms where spark.sql.shuffle.partitions reads back as the
    literal 'auto' must not crash the dispatch probe at plan time
    (ADVICE r10) — the parse falls back to default parallelism.  The
    local session's validated setter refuses non-int values, so the
    fallback is pinned through a stub conf."""

    class _AutoConf:
        def get(self, k, d=None):
            return "auto"

    class _Stub:
        conf = _AutoConf()
        sparkContext = spark.sparkContext

    assert dispatch._shuffle_partitions(_Stub()) == (
        spark.sparkContext.defaultParallelism or 32
    )
    assert dispatch._shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_presplit_equals_single_pass_non_utc_dst(spark):
    """The exposure refinement widens its slack to gap+93601s (26h+1s,
    the largest offset jump tzdata can express — offsets span
    [-12:00, +14:00]) under a non-UTC session tz, because any offset
    transition shrinks epoch-space edge distances vs the ntz-space gap
    arithmetic islands use.  Pin output parity across the 2024-11-03
    US fall-back with events placed at bucket edges around the
    transition."""
    rng = random.Random(3)
    rows = []
    base = datetime(2024, 11, 2, 22, 0, 0)
    for k in range(1, 6):
        t = base
        for _ in range(60):
            t = t + timedelta(seconds=rng.randint(60, 3000))
            rows.append((k, t))
    # exactly-gap straddles right at the DST hour
    rows += [(9, datetime(2024, 11, 3, 1, 45)), (9, datetime(2024, 11, 3, 2, 15))]
    df = _mk(spark, rows).select("user_id", "ts")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = sz.session_summary_skew_safe(
            df, key="user_id", ts="ts", gap=GAP, bucket=BUCKET
        ).collect()
        want = sz.session_summary(df, key="user_id", ts="ts", gap=GAP).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    key = lambda r: (r["user_id"], r["session_id"], r["session_start"])
    assert sorted(map(key, got)) == sorted(map(key, want))
