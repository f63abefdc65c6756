"""Connector-layer tests, mirroring the reference's test strategy
(SURVEY.md §5): pure-unit on the Spark-free core (url building,
validation, partitioning, wire parsing) plus end-to-end through a real
SparkSession against a local mock HTTP endpoint serving the canned
wire-format payloads of FIXTURES.md §2."""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from alpaca_pyspark_spark.sources.alpaca import (
    BARS_TABLE,
    CORP_ACTIONS_TABLE,
    CRYPTO_BARS_TABLE,
    CRYPTO_TRADES_TABLE,
    TRADES_TABLE,
    crypto_bars_specs,
    stock_bars_specs,
)
from alpaca_pyspark_spark.sources.http import build_url, paginate
from alpaca_pyspark_spark.sources.partitioning import (
    adaptive_slice_count,
    parse_timeframe,
    plan_partitions,
)
from alpaca_pyspark_spark.sources.spec import parse_symbols, validate_options

CREDS = {"APCA-API-KEY-ID": "test-key-id", "APCA-API-SECRET-KEY": "test-secret-key"}
BASE_OPTS = {
    **CREDS,
    "symbols": "['AAPL','MSFT','GOOG']",
    "start": "2021-01-01T00:00:00+00:00",
    "end": "2021-01-05T00:00:00+00:00",
}

# wire fixtures (FIXTURES.md §2 — treat as the API spec)
BARS_PAGE = {
    "bars": {
        "AAPL": [
            {"t": "2021-01-01T09:30:00Z", "o": 130.0, "h": 132.0, "l": 129.0,
             "c": 131.5, "v": 1000000, "n": 5000, "vw": 131.0},
            {"t": "2021-01-01T10:30:00Z", "o": 131.5, "h": 133.0, "l": 131.0,
             "c": 132.5, "v": 1100000, "n": 5500, "vw": 132.0},
        ]
    },
    "next_page_token": None,
}
TRADES_PAGE = {
    "trades": {
        "AAPL": [
            {"t": "2021-01-01T09:30:00Z", "x": "V", "p": 131.0, "s": 100,
             "c": [], "i": 12345, "z": "C"},
            {"t": "2021-01-01T09:30:01Z", "x": "V", "p": 131.5, "s": 200,
             "c": ["@", "I"], "i": 12346, "z": "C"},
        ]
    },
    "next_page_token": None,
}
CA_PAGE = {
    "corporate_actions": {
        "AAPL": [
            {"symbol": "AAPL", "ex_date": "2021-02-05T00:00:00Z",
             "record_date": "2021-02-08T00:00:00Z", "payable_date": "2021-02-11T00:00:00Z",
             "type": "dividend", "amount": 0.205, "ratio": 1.0,
             "new_symbol": "", "old_symbol": "AAPL"},
            {"symbol": "AAPL", "ex_date": "2021-08-30T00:00:00Z",
             "record_date": None, "payable_date": None,
             "type": "split", "amount": 0.0, "ratio": 4.0,
             "new_symbol": "AAPL", "old_symbol": "AAPL"},
        ]
    },
    "next_page_token": None,
}
CRYPTO_BARS_PAGE = {
    "bars": {
        "BTC/USD": [
            {"t": "2021-01-01T00:00:00Z", "o": 29000.0, "h": 29500.0, "l": 28900.0,
             "c": 29400.0, "v": 12.3456789, "n": 8200, "vw": 29210.5},
        ]
    },
    "next_page_token": None,
}
CRYPTO_TRADES_PAGE = {
    "trades": {
        "BTC/USD": [
            {"t": "2021-01-01T00:00:01Z", "p": 29000.5, "s": 0.0042, "tks": "B", "i": 1},
            {"t": "2021-01-01T00:00:02Z", "p": 29001.0, "s": 1.25, "tks": "S", "i": 2},
        ]
    },
    "next_page_token": None,
}
MALFORMED_PAGE = {
    "bars": {"AAPL": [
        {"t": "2021-01-01T09:30:00Z", "o": 130.0, "h": 132.0, "l": 129.0,
         "c": 131.5, "v": 1000000, "n": 5000, "vw": 131.0},
        {"t": "2021-01-01T11:30:00Z", "o": 130.0},  # missing h/l/c/v/n/vw
    ]},
    "next_page_token": None,
}


# ------------------------------------------------------- pure units
def test_build_url_drops_none_and_quotes():
    url = build_url("https://x.test/v2/", "/stocks/bars",
                    {"symbols": "AAPL,MSFT", "limit": 10, "skip": None})
    assert url == "https://x.test/v2/stocks/bars?symbols=AAPL%2CMSFT&limit=10"


def test_parse_symbols_forms():
    assert parse_symbols(["AAPL", "MSFT"]) == ["AAPL", "MSFT"]
    assert parse_symbols("['AAPL','MSFT']") == ["AAPL", "MSFT"]
    assert parse_symbols("AAPL") == ["AAPL"]
    assert parse_symbols("AAPL,MSFT") == ["AAPL", "MSFT"]


def test_validate_options_missing_required():
    with pytest.raises(ValueError, match="APCA-API-KEY-ID"):
        validate_options({}, stock_bars_specs())
    opts = dict(BASE_OPTS)
    with pytest.raises(ValueError, match="timeframe"):
        validate_options(opts, stock_bars_specs())


def test_validate_options_unknown_warns_not_fails():
    opts = {**BASE_OPTS, "timeframe": "1Day", "bogus_option": "1"}
    with pytest.warns(UserWarning, match="bogus_option"):
        validate_options(opts, stock_bars_specs())


def test_validate_options_enum_case_insensitive():
    opts = {**BASE_OPTS, "timeframe": "1Day", "adjustment": "SPLIT"}
    _, params = validate_options(opts, stock_bars_specs())
    assert params["adjustment"] == "SPLIT"
    with pytest.raises(ValueError, match="adjustment"):
        validate_options({**opts, "adjustment": "bogus"}, stock_bars_specs())
    # limit=0 would divide by zero when bar partitions are planned
    with pytest.raises(ValueError, match="limit"):
        validate_options({**opts, "limit": "0"}, stock_bars_specs())


def test_timeout_retries_options_functional():
    """``timeout``/``retries`` are documented by the reference but
    never implemented there; here they are functional overrides that
    reach the HTTP layer (fidelity-plus)."""
    import warnings

    from alpaca_pyspark_spark.sources.http import (
        REQUEST_TIMEOUT,
        make_fetcher,
        make_session,
    )

    opts = {**BASE_OPTS, "timeframe": "1Day", "timeout": "5.5", "retries": "7"}
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # must NOT hit the unknown-option warn
        config, _ = validate_options(opts, stock_bars_specs())
    assert config.timeout == 5.5
    assert config.retries == 7

    captured = {}

    class _FakeResp:
        ok = True

        def json(self):
            return {}

    class _FakeSession:
        def get(self, url, headers=None, timeout=None):
            captured["timeout"] = timeout
            return _FakeResp()

    fetch = make_fetcher("http://x", "p", {}, _FakeSession(), timeout=config.timeout)
    fetch({})
    # read timeout overridden, connect timeout preserved
    assert captured["timeout"] == (REQUEST_TIMEOUT[0], 5.5)
    # retries override lands in the mounted adapter's Retry strategy
    sess = make_session(retries=config.retries)
    assert sess.get_adapter("https://x").max_retries.total == 7
    # defaults unchanged when the options are absent
    config2, _ = validate_options(
        {**BASE_OPTS, "timeframe": "1Day"}, stock_bars_specs()
    )
    assert config2.timeout is None and config2.retries is None
    assert make_session().get_adapter("https://x").max_retries.total == 3


def test_validate_options_start_after_end():
    opts = {**BASE_OPTS, "timeframe": "1Day",
            "start": "2021-02-01T00:00:00", "end": "2021-01-01T00:00:00"}
    with pytest.raises(ValueError, match="after end"):
        validate_options(opts, stock_bars_specs())
    # a naive bound is UTC, so it compares with an aware one
    mixed = {**opts, "start": "2021-01-01", "end": "2021-01-02T00:00:00Z"}
    validate_options(mixed, stock_bars_specs())
    with pytest.raises(ValueError, match="after end"):
        validate_options({**mixed, "start": "2021-01-03"}, stock_bars_specs())


def test_parse_timeframe_units_and_aliases():
    assert parse_timeframe("5Min") == timedelta(minutes=5)
    assert parse_timeframe("2hours") == timedelta(hours=2)
    assert parse_timeframe("1Day") == timedelta(days=1)
    assert parse_timeframe("2Weeks") == timedelta(days=10)  # trading week = 5d
    assert parse_timeframe("3Months") == timedelta(days=60)  # trading month = 20d
    assert parse_timeframe("15T") == timedelta(minutes=15)
    with pytest.raises(ValueError):
        parse_timeframe("Day1")


def test_adaptive_slice_count_formula():
    # 1 year of 1-minute bars at limit 10k: ceil(525600/50000) = 11
    assert adaptive_slice_count(timedelta(days=365), timedelta(minutes=1)) == 11
    # tiny range -> 1
    assert adaptive_slice_count(timedelta(days=1), timedelta(days=1)) == 1


def test_plan_partitions_grid():
    start = datetime(2021, 1, 1, tzinfo=timezone.utc)
    end = datetime(2021, 1, 5, tzinfo=timezone.utc)
    parts = plan_partitions(["AAPL", "MSFT"], start, end)  # 1-day default slices
    assert len(parts) == 8  # 2 symbols x 4 days
    aapl = [p for p in parts if p.symbol == "AAPL"]
    assert aapl[0].start == start and aapl[-1].end == end
    # contiguous, non-overlapping
    for a, b in zip(aapl, aapl[1:]):
        assert a.end == b.start


def test_pagination_follows_tokens():
    pages = [
        {"bars": {}, "next_page_token": "tok1"},
        {"bars": {}, "next_page_token": "tok2"},
        {"bars": {}, "next_page_token": None},
    ]
    seen_params = []

    def fetcher(params):
        seen_params.append(dict(params))
        return pages[len(seen_params) - 1]

    out = list(paginate(fetcher, {"symbols": "AAPL"}))
    assert len(out) == 3
    assert "page_token" not in seen_params[0]
    assert seen_params[1]["page_token"] == "tok1"
    assert seen_params[2]["page_token"] == "tok2"


# ----------------------------------------------------- wire parsing
def test_bars_page_to_batch():
    batch = BARS_TABLE.page_to_batch(BARS_PAGE)
    assert batch.num_rows == 2
    assert batch.schema.names == [
        "symbol", "time", "open", "high", "low", "close", "volume", "trade_count", "vwap",
    ]
    d = batch.to_pydict()
    assert d["symbol"] == ["AAPL", "AAPL"]
    assert d["volume"] == [1000000, 1100000]
    assert d["time"][0] == datetime(2021, 1, 1, 9, 30, tzinfo=timezone.utc)


def test_trades_conditions_joined():
    d = TRADES_TABLE.page_to_batch(TRADES_PAGE).to_pydict()
    assert d["conditions"] == ["", "@,I"]
    assert d["size"] == [100, 200]


def test_corp_actions_nullable_dates_and_defaults():
    d = CORP_ACTIONS_TABLE.page_to_batch(CA_PAGE).to_pydict()
    assert d["record_date"][1] is None and d["payable_date"][1] is None
    assert d["ratio"] == [1.0, 4.0]
    missing_defaults = CORP_ACTIONS_TABLE.page_to_batch(
        {"corporate_actions": {"AAPL": [{"ex_date": "2021-01-01T00:00:00Z"}]}}
    ).to_pydict()
    assert missing_defaults["type"] == [""]
    assert missing_defaults["amount"] == [0.0]
    assert missing_defaults["ratio"] == [0.0]


def test_malformed_record_skipped_not_fatal():
    batch = BARS_TABLE.page_to_batch(MALFORMED_PAGE)
    assert batch.num_rows == 1  # bad row dropped, job continues


def test_empty_page_yields_no_batch():
    assert BARS_TABLE.page_to_batch({"bars": {}, "next_page_token": None}) is None


def test_schema_holds_64bit_values():
    # the reference guards INT64 volumes > 2^31 and 15-digit doubles
    # (tests/unit/test_schema_large_values.py)
    page = {"bars": {"AAPL": [
        {"t": "2021-01-01T09:30:00Z", "o": 123456.789012345, "h": 132.0, "l": 129.0,
         "c": 131.5, "v": 3_000_000_000, "n": 2_147_483_648, "vw": 131.0},
    ]}, "next_page_token": None}
    d = BARS_TABLE.page_to_batch(page).to_pydict()
    assert d["volume"] == [3_000_000_000]
    assert d["trade_count"] == [2_147_483_648]
    assert d["open"] == [123456.789012345]


# ------------------------------------------- end-to-end over Spark
class _MockAlpacaHandler(BaseHTTPRequestHandler):
    """Serves the canned pages; two-page pagination for bars.
    Records every (path, query) so tests can assert which params
    actually reached the wire."""

    seen: list = []

    def do_GET(self):  # noqa: N802
        parsed = urlparse(self.path)
        qs = parse_qs(parsed.query)
        _MockAlpacaHandler.seen.append((parsed.path, qs))
        if parsed.path.endswith("/stocks/bars"):
            if qs.get("page_token") == ["token123"]:
                body = BARS_PAGE
            else:
                body = {**BARS_PAGE, "next_page_token": "token123"}
        elif parsed.path.endswith("/stocks/trades"):
            body = TRADES_PAGE
        elif parsed.path.endswith("/stocks/corporate_actions"):
            body = CA_PAGE
        elif parsed.path.endswith("/crypto/us/bars"):
            body = CRYPTO_BARS_PAGE
        elif parsed.path.endswith("/crypto/us/trades"):
            body = CRYPTO_TRADES_PAGE
        else:
            self.send_response(404)
            self.end_headers()
            return
        payload = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture(scope="module")
def mock_api():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _MockAlpacaHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}/v2"
    server.shutdown()


def _opts(endpoint, **extra):
    return {
        **CREDS,
        "endpoint": endpoint,
        "symbols": "AAPL",
        "start": "2021-01-01T00:00:00+00:00",
        "end": "2021-01-01T23:59:59+00:00",
        **extra,
    }


def test_stock_bars_end_to_end(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    df = (
        spark.read.format("Alpaca_Stocks_Bars")
        .options(**_opts(mock_api, timeframe="1Hour"))
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<symbol:string,time:timestamp,open:double,high:double,low:double,"
        "close:double,volume:bigint,trade_count:bigint,vwap:double>"
    )
    rows = df.collect()
    # one partition, two pages (pagination!), 2 rows each
    assert len(rows) == 4
    assert {r["symbol"] for r in rows} == {"AAPL"}
    assert rows[0]["volume"] == 1000000


def test_currency_option_reaches_request_url(spark, mock_api):
    """§2D D8: ``currency`` is a validated passthrough (reference
    stocks/bars.py:50 — no server-side semantics in scope) — assert
    the option actually lands in the outgoing request URL, so the
    passthrough is wired, not silently dropped."""
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    _MockAlpacaHandler.seen.clear()
    df = (
        spark.read.format("Alpaca_Stocks_Bars")
        .options(**_opts(mock_api, timeframe="1Hour", currency="EUR"))
        .load()
    )
    assert df.count() == 4
    bar_queries = [
        qs for path, qs in _MockAlpacaHandler.seen if path.endswith("/stocks/bars")
    ]
    assert bar_queries, "no bars request reached the mock server"
    assert all(qs.get("currency") == ["EUR"] for qs in bar_queries)


def test_stock_trades_end_to_end(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    df = (
        spark.read.format("Alpaca_Stocks_Trades").options(**_opts(mock_api)).load()
    )
    rows = df.orderBy("id").collect()
    assert [r["conditions"] for r in rows] == ["", "@,I"]
    assert [r["price"] for r in rows] == [131.0, 131.5]


def test_corporate_actions_end_to_end(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    df = (
        spark.read.format("Alpaca_Corporate_Actions")
        .options(**_opts(mock_api, types="split,dividend"))
        .load()
    )
    rows = df.orderBy("ex_date").collect()
    assert rows[0]["type"] == "dividend" and rows[0]["amount"] == 0.205
    assert rows[1]["type"] == "split" and rows[1]["ratio"] == 4.0
    assert rows[1]["record_date"] is None


def test_crypto_units():
    # fractional volume survives (crypto bars are float-volume)
    d = CRYPTO_BARS_TABLE.page_to_batch(CRYPTO_BARS_PAGE).to_pydict()
    assert d["volume"] == [12.3456789]
    d = CRYPTO_TRADES_TABLE.page_to_batch(CRYPTO_TRADES_PAGE).to_pydict()
    assert d["size"] == [0.0042, 1.25]
    assert d["taker_side"] == ["B", "S"]
    # auth optional: no creds, no auth headers; loc validated
    config, params = validate_options(
        {"symbols": "BTC/USD", "start": "2021-01-01T00:00:00",
         "end": "2021-01-02T00:00:00", "timeframe": "1Hour", "loc": "us"},
        crypto_bars_specs(),
        require_auth=False,
    )
    assert "APCA-API-KEY-ID" not in config.headers
    assert params["symbols"] == "BTC/USD"
    with pytest.raises(ValueError, match="loc"):
        validate_options(
            {"symbols": "BTC/USD", "start": "2021-01-01T00:00:00",
             "end": "2021-01-02T00:00:00", "timeframe": "1Hour", "loc": "mars"},
            crypto_bars_specs(),
            require_auth=False,
        )


def test_crypto_bars_end_to_end(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    opts = _opts(mock_api, timeframe="1Hour", symbols="BTC/USD")
    del opts["APCA-API-KEY-ID"], opts["APCA-API-SECRET-KEY"]  # auth optional
    df = spark.read.format("Alpaca_Crypto_Bars").options(**opts).load()
    assert dict(df.dtypes)["volume"] == "double"
    rows = df.collect()
    assert {r["symbol"] for r in rows} == {"BTC/USD"}
    assert rows[0]["volume"] == 12.3456789


def test_crypto_trades_end_to_end(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    df = (
        spark.read.format("Alpaca_Crypto_Trades")
        .options(**_opts(mock_api, symbols="ETH/USD"))
        .load()
    )
    rows = df.orderBy("id").collect()
    assert [r["taker_side"] for r in rows] == ["B", "S"]
    assert [r["size"] for r in rows] == [0.0042, 1.25]


def test_invalid_options_fail_on_driver(spark, mock_api):
    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    with pytest.raises(Exception, match="timeframe"):
        (
            spark.read.format("Alpaca_Stocks_Bars")
            .options(**_opts(mock_api))  # no timeframe
            .load()
        )


# ------------------------------------------------- filter pushdown
def _bars_reader(**extra):
    from alpaca_pyspark_spark.sources.alpaca import StockBarsDataSource

    src = StockBarsDataSource(
        _opts("https://example.test/v2", symbols="AAPL,MSFT,GOOG",
              timeframe="1Hour", **extra)
    )
    return src.reader(None)


def test_push_filters_narrows_symbols_and_window():
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

    r = _bars_reader()
    residual = r.pushFilters(
        [
            In(("symbol",), ("MSFT", "GOOG", "TSLA")),
            GreaterThanOrEqual(("time",), "2021-01-01T06:00:00+00:00"),
            LessThan(("time",), "2021-01-01T12:00:00+00:00"),
        ]
    )
    # every filter is residual: Spark re-applies post-scan
    assert len(list(residual)) == 3
    parts = r.partitions()
    assert {p.symbol for p in parts} == {"MSFT", "GOOG"}
    assert min(p.start for p in parts).isoformat() == "2021-01-01T06:00:00+00:00"
    assert max(p.end for p in parts).isoformat() == "2021-01-01T12:00:00+00:00"

    # equality narrows further; unknown symbol -> zero partitions
    r2 = _bars_reader()
    r2.pushFilters([EqualTo(("symbol",), "TSLA")])
    assert r2.partitions() == []

    # a naive start option is UTC and narrows like an aware one
    r3 = _bars_reader(start="2021-01-01T00:00:00")
    r3.pushFilters([GreaterThanOrEqual(("time",), "2021-01-01T06:00:00+00:00")])
    assert min(p.start for p in r3.partitions()).isoformat() == "2021-01-01T06:00:00+00:00"


def test_push_filters_never_widens():
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    r = _bars_reader()
    r.pushFilters(
        [
            GreaterThanOrEqual(("time",), "2020-01-01T00:00:00+00:00"),  # looser
            LessThanOrEqual(("time",), "2022-01-01T00:00:00+00:00"),  # looser
        ]
    )
    parts = r.partitions()
    assert min(p.start for p in parts).isoformat() == "2021-01-01T00:00:00+00:00"
    assert max(p.end for p in parts).isoformat() == "2021-01-01T23:59:59+00:00"


def test_push_filters_unsupported_shapes_ignored():
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    r = _bars_reader()
    before = dict(r.params)
    r.pushFilters(
        [
            IsNotNull(("close",)),          # non-pushable column
            EqualTo(("symbol", "x"), "A"),  # nested path — not ours
            EqualTo(("time",), 123),        # non-datetime value
            GreaterThanOrEqual(("time",), "not-a-date"),  # unparseable string
        ]
    )
    assert r.params == before


def test_bars_filter_pushdown_end_to_end(spark, mock_api):
    """df.filter on symbol/time must narrow what the source fetches
    while returning the same rows as the option-driven query."""
    from pyspark.sql import functions as F

    from alpaca_pyspark_spark.sources import register_all

    register_all(spark)
    base = (
        spark.read.format("Alpaca_Stocks_Bars")
        .options(**_opts(mock_api, timeframe="1Hour"))
        .load()
    )
    filtered = base.filter(F.col("symbol") == "AAPL").filter(
        F.col("time") >= "2021-01-01 00:00:00"
    )
    rows = filtered.collect()
    assert len(rows) == 4 and {r["symbol"] for r in rows} == {"AAPL"}
