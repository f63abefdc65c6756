"""Streaming layer tests: watermarked session windows vs the batch
gaps-and-islands twin, and the stream-shaped trades source polling the
mock REST endpoint end-to-end through readStream."""

from __future__ import annotations

import pytest

from alpaca_pyspark_spark.operators.sessionize import session_summary
from alpaca_pyspark_spark.streaming.sessions import streaming_session_summary
from alpaca_pyspark_spark.tables import load

from .conftest import SF_DIR
from .test_sources import CREDS, mock_api  # noqa: F401  (fixture)


def test_streaming_sessions_match_batch(spark, tmp_path):
    """File-stream the events table; session_window results must agree
    with the batch gaps-and-islands operator (session end differs by
    +gap by definition)."""
    events = load(spark, SF_DIR, "events").select("user_id", "ts")
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = streaming_session_summary(
        stream, key="user_id", ts="ts", gap="30 minutes", watermark_delay="1 hour"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }

    batch = session_summary(events, key="user_id", ts="ts", gap="30 minutes")
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want


def test_trades_stream_source(spark, mock_api):  # noqa: F811
    """readStream over the REST poller: two micro-batch slices of 12h
    each cover the bounded range; the memory sink must end up with the
    mock trades exactly once per slice fetch."""
    from alpaca_pyspark_spark.streaming.source import StockTradesStreamDataSource

    spark.dataSource.register(StockTradesStreamDataSource)
    df = (
        spark.readStream.format("Alpaca_Stocks_Trades_Stream")
        .options(
            **CREDS,
            endpoint=mock_api,
            symbols="AAPL",
            start="2021-01-01T00:00:00+00:00",
            end="2021-01-02T00:00:00+00:00",
            poll_interval=str(12 * 3600),
        )
        .load()
    )
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("stream_trades")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM stream_trades ORDER BY id").collect()
    # mock serves the same 2-trade page for any slice: 2 slices x 2 rows
    assert len(rows) == 4
    assert {r["symbol"] for r in rows} == {"AAPL"}
    assert rows[0]["price"] == 131.0
    assert {r["conditions"] for r in rows} == {"", "@,I"}


def test_stream_rejects_zero_poll_interval():
    """A zero poll_interval would return the same cursor from every
    read, so a bounded stream never reaches its end: it must fail
    validation instead.  Float-formatted positive values stay valid."""
    from alpaca_pyspark_spark.streaming.source import StockTradesStreamDataSource

    opts = {
        **CREDS,
        "symbols": "AAPL",
        "start": "2021-01-01T00:00:00+00:00",
        "end": "2021-01-02T00:00:00+00:00",
    }
    StockTradesStreamDataSource({**opts, "poll_interval": "43200.0"})
    for poll in ("0", "0.0"):
        with pytest.raises(ValueError, match="poll_interval"):
            StockTradesStreamDataSource({**opts, "poll_interval": poll})


def test_stream_slices_are_half_open(monkeypatch):
    """ADVICE r1: the API's end param is inclusive, so the poller must
    send hi - 1µs — otherwise a trade stamped exactly on a cursor
    boundary is fetched by both adjacent micro-batches."""
    from alpaca_pyspark_spark.streaming import source as src_mod

    captured = {}

    def fake_paginate(fetcher, params, rate_limit_delay=0.0):
        captured.update(params)
        return iter(())

    monkeypatch.setattr(src_mod, "paginate", fake_paginate)
    monkeypatch.setattr(src_mod, "make_fetcher", lambda *a, **k: None)

    reader = src_mod.StockTradesStreamDataSource(
        {**CREDS, "endpoint": "http://x", "symbols": "AAPL",
         "start": "2021-01-01T00:00:00+00:00", "end": "2021-01-02T00:00:00+00:00"}
    ).simpleStreamReader(None)
    from datetime import datetime, timezone

    lo = datetime(2021, 1, 1, tzinfo=timezone.utc)
    hi = datetime(2021, 1, 1, 12, tzinfo=timezone.utc)
    reader._fetch_rows(lo, hi)
    assert captured["start"] == "2021-01-01T00:00:00+00:00"
    assert captured["end"] == "2021-01-01T11:59:59.999999+00:00"


def test_stream_fetch_chunks_symbols_per_request(monkeypatch):
    """The poller must bound symbols-per-GET (an unbounded comma-join
    overflows request-line limits as the universe grows — the batch
    grid never sends more than one symbol per request) and the chunked
    union must be exactly the slice: disjoint chunks, original order,
    unchanged time window on every request."""
    from alpaca_pyspark_spark.streaming import source as src_mod

    calls = []

    def fake_paginate(fetcher, params, rate_limit_delay=0.0):
        calls.append(dict(params))
        return iter(())

    monkeypatch.setattr(src_mod, "paginate", fake_paginate)
    monkeypatch.setattr(src_mod, "make_fetcher", lambda *a, **k: None)

    universe = [f"S{i:05d}" for i in range(2500)]
    reader = src_mod.StockTradesStreamDataSource(
        {**CREDS, "endpoint": "http://x", "symbols": ",".join(universe),
         "start": "2021-01-01T00:00:00+00:00", "end": "2021-01-02T00:00:00+00:00"}
    ).simpleStreamReader(None)
    from datetime import datetime, timezone

    lo = datetime(2021, 1, 1, tzinfo=timezone.utc)
    hi = datetime(2021, 1, 1, 12, tzinfo=timezone.utc)
    reader._fetch_rows(lo, hi)
    sizes = [len(c["symbols"].split(",")) for c in calls]
    assert sizes == [1000, 1000, 500]
    rejoined = [s for c in calls for s in c["symbols"].split(",")]
    assert rejoined == universe  # disjoint, ordered, complete
    assert all(
        c["start"] == "2021-01-01T00:00:00+00:00"
        and c["end"] == "2021-01-01T11:59:59.999999+00:00"
        for c in calls
    )


def test_stream_chunked_fetch_union_equals_tape(monkeypatch):
    """Chunked fetch against the REAL replay endpoint (chunk x page
    interplay): with a tiny chunk dial the poller issues one paginated
    sequence per chunk, and the union over chunks is the tape exactly
    once — no symbol's rows dropped or doubled at a chunk boundary."""
    from datetime import datetime, timezone

    from alpaca_pyspark_spark.sources.replay import ReplayTradesServer
    from alpaca_pyspark_spark.streaming import source as src_mod

    base = datetime(2021, 1, 1, tzinfo=timezone.utc)
    tape = [
        (f"S{i % 7}", base.replace(hour=1 + (i % 10)), 100.0 + i, 1, i)
        for i in range(40)
    ]
    monkeypatch.setattr(src_mod.TradesStreamReader, "SYMBOLS_PER_REQUEST", 3)
    with ReplayTradesServer(tape) as api:
        reader = src_mod.StockTradesStreamDataSource(
            {**CREDS, "endpoint": api.endpoint,
             "symbols": ",".join(sorted({t[0] for t in tape})),
             "start": base.isoformat(), "end": base.replace(hour=23).isoformat(),
             "limit": "5"}  # force pagination inside every chunk
        ).simpleStreamReader(None)
        rows = reader._fetch_rows(base, base.replace(hour=23))
        # 7 symbols / 3 per request -> 3 chunked sequences
        assert len({q["symbols"][0] for _, q in api.requests}) == 3
    got = sorted((r[0], r[6]) for r in rows)  # (symbol, trade id)
    want = sorted((t[0], t[4]) for t in tape)
    assert got == want


def test_stream_replay_between_offsets():
    """``readBetweenOffsets`` is how Structured Streaming replays a
    batch after a failure: for the offsets ``read()`` returned it must
    re-fetch exactly the rows ``read()`` yielded, and an empty or
    inverted offset range yields nothing."""
    from datetime import datetime, timezone

    from alpaca_pyspark_spark.sources.replay import ReplayTradesServer
    from alpaca_pyspark_spark.streaming.source import StockTradesStreamDataSource

    base = datetime(2021, 1, 1, tzinfo=timezone.utc)
    tape = [(f"S{i % 3}", base.replace(hour=i % 24), 1.0 + i, 1, i) for i in range(60)]
    with ReplayTradesServer(tape) as api:
        reader = StockTradesStreamDataSource(
            {**CREDS, "endpoint": api.endpoint, "symbols": "S0,S1,S2",
             "start": base.isoformat(), "end": base.replace(day=2).isoformat(),
             "poll_interval": str(6 * 3600), "limit": "7"}  # 7: several pages
        ).simpleStreamReader(None)
        lo, seen = reader.initialOffset(), []
        while True:
            it, hi = reader.read(lo)
            if hi == lo:
                break
            rows = list(it)
            assert list(reader.readBetweenOffsets(lo, hi)) == rows
            assert list(reader.readBetweenOffsets(hi, hi)) == []
            assert list(reader.readBetweenOffsets(hi, lo)) == []
            seen += rows
            lo = hi
    assert sorted(r[6] for r in seen) == [t[4] for t in tape]


def test_gate_drains_through_the_no_data_batch(spark):
    """The gate's drain must wait for the no-data batch: a watermark a
    batch advances applies only in the next batch, so the append-mode
    windows the sentinel finalizes are emitted by a batch with no
    input.  A drain that returns after the data batch loses them."""
    import datetime as dt
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from alpaca_pyspark_spark.streaming.gate import run_streaming_gate, sentinel_row

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.progress, self.done = [], threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name.startswith("draintest_"):
                self.progress.append(event.progress)

        def onQueryTerminated(self, event):
            self.done.set()

    schema = "k bigint, ts timestamp"
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(minutes=m)) for m in (0, 3, 6, 12)]
    events = spark.createDataFrame(rows, schema)
    last_window_end = t0 + dt.timedelta(minutes=15)
    rec = Recorder()
    spark.streams.addListener(rec)
    try:
        out = run_streaming_gate(
            spark,
            [(events, sentinel_row(spark, lambda ts: (-1, ts), schema))],
            lambda s: s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"))
            .count(),
            prefix="draintest",
        )
        assert rec.done.wait(60), "no terminated event"
    finally:
        spark.streams.removeListener(rec)
    batches = [p.numInputRows for p in rec.progress]
    assert len(batches) >= 2 and batches[-1] == 0 and batches[-2] > 0, batches
    watermark = rec.progress[-1].eventTime["watermark"]
    assert dt.datetime.strptime(watermark, "%Y-%m-%dT%H:%M:%S.%fZ") >= last_window_end
    got = {r["window"]["end"]: r["count"] for r in out.collect()}
    want = {t0 + dt.timedelta(minutes=m): n for m, n in ((5, 2), (10, 1), (15, 1))}
    assert got == want


def test_streaming_sessions_rocksdb_state_store(spark, tmp_path):
    """Same watermarked session query under the RocksDB state-store
    provider — the backend a 100 TB cluster actually runs (state no
    longer bounded by executor heap; changelog checkpointing).  The
    provider must load and produce bit-identical results to the
    default HDFS-backed store."""
    events = load(spark, SF_DIR, "events").select("user_id", "ts").limit(2000)
    src = str(tmp_path / "rdb_src")
    events.write.parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(events.schema).parquet(src)
        sessions = streaming_session_summary(
            stream, key="user_id", ts="ts", gap="30 minutes", watermark_delay="1 hour"
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("rdb_sessions")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM rdb_sessions").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    batch = session_summary(
        spark.read.parquet(src), key="user_id", ts="ts", gap="30 minutes"
    )
    want = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()
    }
    assert got == want
