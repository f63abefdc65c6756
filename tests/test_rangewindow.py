"""Skew-safe LOCF/first pair (operators/rangewindow.py) — must be
OUTPUT-IDENTICAL to the plain IGNORE-NULLS window pair, including rows
exactly on bucket boundaries, NULL timestamps, and a key with no
non-null value.  The trailing count/sum tiers are pinned in
tests/test_rangewindow_prefix.py."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from alpaca_pyspark_spark.operators import dispatch
from alpaca_pyspark_spark.operators import rangewindow as rw
from alpaca_pyspark_spark.operators import sessionize as sz

T0 = datetime(2024, 1, 1, 0, 0, 0)
DAY_US = 24 * 3600 * 1_000_000


def _locf_rows(df):
    rows = [
        (r["user_id"], r["event_id"], r["__lpv"], r["__fpv"])
        for r in df.select("user_id", "event_id", "__lpv", "__fpv").collect()
    ]
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def _locf_data():
    rng = random.Random(23)
    rows, eid = [], 0
    for k in range(1, 5):
        n = 200 if k == 1 else 25
        for _ in range(n):
            eid += 1
            # v is SPARSE (None ~ non-purchase rows) and the ts hits
            # bucket boundaries sometimes
            rows.append(
                (
                    k,
                    eid,
                    T0
                    + timedelta(
                        seconds=rng.randint(0, 5 * 86400),
                        microseconds=rng.choice([0, rng.randint(0, 999999)]),
                    ),
                    rng.randint(1, 100) if rng.random() < 0.3 else None,
                )
            )
    for d in (0, 1, 2):  # rows exactly on bucket boundaries
        eid += 1
        rows.append((1, eid, T0 + timedelta(days=d), 7 if d != 1 else None))
    # NULL timestamps (sort first; some carry value, some not)
    eid += 1
    rows.append((1, eid, None, 55))
    eid += 1
    rows.append((1, eid, None, None))
    # a key with NO non-null value at all (first/last stay NULL)
    eid += 1
    rows.append((9, eid, T0 + timedelta(hours=1), None))
    return rows


def test_locf_skew_safe_equals_plain(spark, monkeypatch):
    df = spark.createDataFrame(
        _locf_data(), "user_id long, event_id long, ts timestamp_ntz, v long"
    )
    kw = dict(
        key="user_id", ts="ts", tiebreak="event_id", val=F.col("v"),
        bucket_us=DAY_US, last_alias="__lpv", first_alias="__fpv",
    )
    want = _locf_rows(rw.locf_first_adaptive(df, **kw))  # no hot keys: plain
    safe = rw.locf_first_skew_safe(df, **kw)
    assert _locf_rows(safe) == want
    monkeypatch.setattr(sz, "HOT_MIN_ROWS", 50)
    assert dispatch.hot_keys(df, "user_id", sz.HOT_MIN_ROWS) == [1]
    assert _locf_rows(rw.locf_first_adaptive(df, **kw)) == want
