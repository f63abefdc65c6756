"""Streaming trades source: a time-cursor poller on the REST endpoint.

The Spark 4 Python DataSource API's ``simpleStreamReader`` hook turns
the same paginated fetch + Arrow wire layer used by the batch sources
into a micro-batch stream: each batch covers the half-open event-time
slice ``[cursor, min(cursor + poll_interval, end))``; offsets are the
cursor timestamps, so ``readBetweenOffsets`` replays any slice exactly
(deterministic re-fetch → at-least-once from the API, exactly-once
into the sink with checkpointing).

Options: the stock-trades options plus ``poll_interval``, a positive
number of seconds of event time per micro-batch (default 60).  A
bounded stream (``end`` in the past) simply stops producing rows once
the cursor reaches it.
"""

from __future__ import annotations

from datetime import timedelta
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

from ..sources.alpaca import TRADES_TABLE, stock_trades_specs
from ..sources.http import make_fetcher, paginate
from ..sources.partitioning import DEFAULT_LIMIT
from ..sources.spec import (
    EndpointConfig,
    ParamSpec,
    parse_iso_datetime,
    validate_options,
)


class TradesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, config: EndpointConfig, params: dict[str, str]):
        self.config = config
        self.params = params
        self.start_ts = parse_iso_datetime(params["start"], "start")
        self.end_ts = parse_iso_datetime(params["end"], "end")
        self.poll = timedelta(seconds=float(params.get("poll_interval", 60)))

    # -- offsets are ISO event-time cursors ---------------------------
    def initialOffset(self) -> dict:
        return {"cursor": self.start_ts.isoformat()}

    # Max symbols per GET: the batch source's grid plans ONE symbol per
    # request (``plan_partitions``), so it never meets a URL bound; the
    # poller batches symbols per request for fewer round-trips, but an
    # unbounded comma-join overflows request-line limits as the symbol
    # universe grows (http.server rejects >64 KiB; proxies commonly cap
    # at 8-16 KiB).  1000 symbols ≈ 8 KiB keeps every request inside
    # the conservative cap while amortizing per-request overhead.
    # Chunks are disjoint, so the union over chunks is exactly the
    # slice's rows — no overlap, no gap — at ANY universe size.
    SYMBOLS_PER_REQUEST = 1000

    def _fetch_rows(self, lo, hi) -> list[tuple]:
        fetcher = make_fetcher(
            self.config.endpoint,
            "stocks/trades",
            self.config.headers,
            timeout=self.config.timeout,
            retries=self.config.retries,
        )
        rows: list[tuple] = []
        base = {
            k: v
            for k, v in self.params.items()
            if k not in ("start", "end", "poll_interval")
        }
        # The API treats ``end`` as INCLUSIVE; the stream cursor promises
        # half-open slices [lo, hi).  Send hi - 1µs so a trade stamped
        # exactly at a cursor boundary is fetched by exactly one
        # micro-batch (timestamps are microsecond-granular, §1.2), not
        # by both adjacent ones.  dedup_stream covers residual replays.
        base.update(
            start=lo.isoformat(),
            end=(hi - timedelta(microseconds=1)).isoformat(),
            limit=self.params.get("limit", str(DEFAULT_LIMIT)),
        )
        # absent/empty symbols = an EMPTY universe: fetch nothing (the
        # poller never passes a blank-symbols request through to the
        # server, whose 'all symbols' interpretation would be an
        # unbounded fan-out; ADVICE r9 pinned this as the contract)
        symbols = [s for s in self.params.get("symbols", "").split(",") if s]
        for c in range(0, len(symbols), self.SYMBOLS_PER_REQUEST):
            params = dict(
                base,
                symbols=",".join(symbols[c : c + self.SYMBOLS_PER_REQUEST]),
            )
            for page in paginate(
                fetcher, params, rate_limit_delay=self.config.rate_limit_delay
            ):
                rows.extend(TRADES_TABLE.iter_rows(page))
        return rows

    def read(self, start: dict):
        lo = parse_iso_datetime(start["cursor"], "cursor")
        if lo >= self.end_ts:
            return iter([]), start  # bounded stream exhausted
        hi = min(lo + self.poll, self.end_ts)
        return iter(self._fetch_rows(lo, hi)), {"cursor": hi.isoformat()}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lo = parse_iso_datetime(start["cursor"], "cursor")
        hi = parse_iso_datetime(end["cursor"], "cursor")
        if lo >= hi:
            return iter([])
        return iter(self._fetch_rows(lo, hi))


class StockTradesStreamDataSource(DataSource):
    """``spark.readStream.format("Alpaca_Stocks_Trades_Stream")``."""

    def __init__(self, options: dict[str, Any]):
        super().__init__(options)
        # positive: a zero interval would never move the cursor
        specs = stock_trades_specs() + [
            ParamSpec("poll_interval", pattern=r"^(?=.*[1-9])\d+(\.\d+)?$")
        ]
        self._config, self._params = validate_options(dict(options), specs)

    @classmethod
    def name(cls) -> str:
        return "Alpaca_Stocks_Trades_Stream"

    def schema(self) -> str:
        return TRADES_TABLE.ddl

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return TradesStreamReader(self._config, self._params)
