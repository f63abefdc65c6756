"""The benchmark's workloads.  Each is a fixed list of ops that one
client runs back to back (a closed loop), plus the set-up the engine
needs before the first op and a correctness check of every op.

- ``rest_ingest``: the connector alone, reading and writing, against a
  seeded Zipf-skewed trade tape served by ``ReplayTradesServer``.
- ``market_analytics``: short oracle-paired market-data queries; loads
  ``tables``/``queries`` and JVM-side ``plans``, bypasses the Python
  workers and the connector.
- ``curation_udf``: oracle-paired operators that cross the Python/Arrow
  UDF boundary; the bypass twin of ``market_analytics``.
"""

from __future__ import annotations

import re
import shutil
import tempfile
import time
from dataclasses import dataclass
from datetime import timedelta, timezone
from pathlib import Path
from typing import Callable

from inputs import EPOCH, symbol_ranks, trade_tape, write_tables

#: scale name -> sizes; "tiny" is the self-test's
SIZES = {
    "full": {"events": 10_000, "docs": 500, "trades": 20_000, "symbols": 12, "days": 2},
    "tiny": {"events": 1_000, "docs": 100, "trades": 2_000, "symbols": 8, "days": 2},
}


@dataclass
class Op:
    """One operation of a workload.

    ``execute`` is the timed path and returns the rows it produced or
    moved; ``collect`` is the same work returning a payload to verify
    (run once, in the warm-up pass); ``verify`` checks that payload
    outside every timed region."""

    name: str
    execute: Callable[[], int]
    collect: Callable[[], object]
    verify: Callable[[object], bool]
    expected_rows: int
    #: input rows the op reads or moves, for ``rows_per_s``
    work_rows: int


class Ctx:
    """What ops share: the session, the tracer and the per-op counters."""

    def __init__(self, tracer, workdir: Path, nproc: int):
        self.spark = None
        self.tracer = tracer
        self.jobs = None  # JobCounter while a traced pass runs
        self.workdir = workdir
        self.nproc = nproc
        self.op_id = ""
        #: counters ops add to during traced passes
        self.counters: dict[str, float] = {}

    def group(self, phase: str) -> None:
        if self.jobs is not None:
            self.jobs.group(f"{self.op_id}:{phase}")


def _canon(rows, cols) -> int:
    from alpaca_pyspark_spark.canon import driver_canon_hash

    return driver_canon_hash(rows, cols)


# --------------------------------------------------------------- queries
class QueryWorkload:
    """Oracle-paired registered queries over seeded parquet tables."""

    QIDS: tuple[str, ...] = ()
    TABLES = ("events", "documents", "embeddings")
    #: warm-up passes before timing, the checked one included: ops
    #: keep speeding up over the second pass as the JVM compiles
    WARM_PASSES = 2

    def __init__(self, ctx: Ctx, seed: int, scale: str):
        self.ctx = ctx
        self.seed = seed
        self.size = SIZES[scale]
        self.sf_dir = str(ctx.workdir / "tables")
        self.expected: dict[str, tuple[int, int]] = {}
        self.table_rows: dict[str, int] = {}

    def prepare(self) -> None:
        """Write the tables and run the DuckDB oracle (benchmark work,
        excluded from every metric)."""
        import duckdb

        from alpaca_pyspark_spark.queries import ORACLE

        self.table_rows = write_tables(
            Path(self.sf_dir), self.seed, self.size["events"], self.size["docs"]
        )
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for qid in self.QIDS:
                res = con.sql(ORACLE[qid])
                names = [d[0] for d in res.description]
                cols = sorted(names)
                idx = [names.index(c) for c in cols]
                rows = [tuple(r[i] for i in idx) for r in res.fetchall()]
                self.expected[qid] = (len(rows), _canon(rows, cols))
        finally:
            con.close()

    def setup(self) -> None:
        """Table warm-up: load every table and read one row of it."""
        from alpaca_pyspark_spark.plans import force_evaluate
        from alpaca_pyspark_spark.tables import load

        tr = self.ctx.tracer
        for t in self.TABLES:
            with tr.span("tables:load"):
                df = load(self.ctx.spark, self.sf_dir, t)
            force_evaluate(df.limit(1))

    def table_scan_seconds(self) -> float:
        """Mean ``force_evaluate(tables.load(t))`` over the tables."""
        from alpaca_pyspark_spark.plans import force_evaluate
        from alpaca_pyspark_spark.tables import load

        t0 = time.perf_counter()
        for t in self.TABLES:
            force_evaluate(load(self.ctx.spark, self.sf_dir, t))
        return (time.perf_counter() - t0) / len(self.TABLES)

    def ops(self) -> list[Op]:
        from alpaca_pyspark_spark.queries import ORACLE

        out = []
        for qid in self.QIDS:
            reads = [t for t in self.TABLES if re.search(rf"\b{t}\b", ORACLE[qid])]
            out.append(
                Op(
                    qid,
                    execute=lambda q=qid: self._execute(q),
                    collect=lambda q=qid: self._collect(q),
                    verify=lambda got, q=qid: got == self.expected[q],
                    expected_rows=self.expected[qid][0],
                    work_rows=sum(self.table_rows[t] for t in reads),
                )
            )
        return out

    def _execute(self, qid: str) -> int:
        from alpaca_pyspark_spark.plans import force_evaluate
        from alpaca_pyspark_spark.queries import QUERIES
        from alpaca_pyspark_spark.session import release_scoped_caches

        ctx, tr = self.ctx, self.ctx.tracer
        ctx.group("build")
        with tr.span("queries:build"):
            df = QUERIES[qid](ctx.spark, self.sf_dir)
        ctx.group("eval")
        with tr.span("plans:force_evaluate"):
            n = force_evaluate(df)
        with tr.span("session:release_scoped_caches"):
            released = release_scoped_caches()
        if tr.enabled:
            ctx.counters["session.scoped_released"] = (
                ctx.counters.get("session.scoped_released", 0) + released
            )
        return n

    def _collect(self, qid: str):
        from alpaca_pyspark_spark.queries import QUERIES
        from alpaca_pyspark_spark.session import release_scoped_caches

        df = QUERIES[qid](self.ctx.spark, self.sf_dir)
        cols = sorted(df.columns)
        rows = [tuple(r[c] for c in cols) for r in df.collect()]
        release_scoped_caches()
        return (len(rows), _canon(rows, cols))

    def requests_served(self) -> int:
        return 0

    def close(self) -> None:
        pass


class MarketAnalytics(QueryWorkload):
    QIDS = (
        "q02_bars_tumbling",
        "q06_asof_join",
        "q07_adjustment",
        "q41_trailing_range_window",
        "q50_rolling_volatility",
        "q52_twap",
        "q76_ewma",
    )
    TABLES = ("events",)


class CurationUdf(QueryWorkload):
    QIDS = (
        "q27_pandas_udf_trend",
        "q13_embedding_sim",
        "q12_embedding_dedup",
        "q18_multimodal_meta",
        "q180_media_resize",
    )


# ------------------------------------------------------------- connector
def _id_hash(ids) -> tuple[int, int]:
    """(order-insensitive hash, count) of a multiset of trade ids."""
    import numpy as np

    a = np.asarray(list(ids), dtype=np.uint64)
    a = (a + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
    return int((a ^ (a >> np.uint64(31))).sum(dtype=np.uint64)), len(a)


class CountingSession:
    """A ``requests`` session that counts GETs and response bytes; the
    ``session=`` argument of ``sources.http.make_fetcher``."""

    def __init__(self):
        from alpaca_pyspark_spark.sources.http import make_session

        self.inner = make_session()
        self.requests = 0
        self.bytes = 0

    def get(self, url, **kw):
        resp = self.inner.get(url, **kw)
        self.requests += 1
        self.bytes += len(resp.content)
        return resp

    def close(self):
        self.inner.close()


class RestIngest:
    """Reads through ``Alpaca_Stocks_Trades`` and writes through
    ``Rest_Batch_Sink`` (batch and streaming) against the replay API."""

    AUTH = {"APCA-API-KEY-ID": "bench", "APCA-API-SECRET-KEY": "bench"}
    #: the checked pass alone: a connector pass takes most of a run's
    #: seconds, so a second warm-up pass would not fit the time budget
    WARM_PASSES = 1

    def __init__(self, ctx: Ctx, seed: int, scale: str):
        self.ctx = ctx
        self.seed = seed
        self.size = SIZES[scale]
        self.api = None
        self.sink = None
        self.sink_df = None
        self._stack = None

    # -- inputs ----------------------------------------------------------
    def prepare(self) -> None:
        s = self.size
        self.tape = trade_tape(self.seed, s["trades"], s["symbols"], s["days"])
        self.syms = symbol_ranks(s["symbols"])
        self.start = EPOCH.replace(tzinfo=timezone.utc)
        self.end = self.start + timedelta(days=s["days"])
        n = len(self.syms)
        day = timedelta(days=1)
        #: op -> (options symbols, start, end, limit, pushdown filter)
        self.grids = {
            # about one small page per (symbol, day) task
            "scan_wide": (self.syms[n // 2 :], self.start, self.end, 10_000, None),
            # the two hottest symbols, many 100-row pages per task
            "scan_deep": (self.syms[:2], self.start, self.end, 100, None),
            # the full grid, narrowed by df.filter to a few symbols x one day
            "scan_pushdown": (
                self.syms,
                self.start,
                self.end,
                10_000,
                (self.syms[2:2 + max(2, n // 8)], self.start + day, self.start + 2 * day),
            ),
        }
        self.stream_syms = self.syms[: max(2, n // 6)]
        self.sink_rows = self.tape[: len(self.tape) // 2]

    def _expect(self, syms, lo, hi):
        keep = set(syms)
        lo_n, hi_n = lo.replace(tzinfo=None), hi.replace(tzinfo=None)
        return [r[4] for r in self.tape if r[0] in keep and lo_n <= r[1] < hi_n]

    # -- engine set-up ---------------------------------------------------
    def setup(self) -> None:
        """Register the sources, start the replay API and the capture
        sink, and build the fixed-partition DataFrame the sink writes."""
        import contextlib

        import pandas as pd

        from alpaca_pyspark_spark.sources import register_all
        from alpaca_pyspark_spark.sources.replay import CaptureSink, ReplayTradesServer
        from alpaca_pyspark_spark.streaming.source import StockTradesStreamDataSource

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("sources:register_all"):
            register_all(spark)
            spark.dataSource.register(StockTradesStreamDataSource)
        self._stack = contextlib.ExitStack()
        with tr.span("sources.replay:start"):
            self.api = self._stack.enter_context(ReplayTradesServer(self.tape))
            self.sink = self._stack.enter_context(CaptureSink())
        pdf = pd.DataFrame(
            self.sink_rows, columns=["symbol", "time", "price", "size", "id"]
        )
        self.sink_df = spark.createDataFrame(pdf).repartition(self.ctx.nproc).cache()
        self.sink_df.count()

    def requests_served(self) -> int:
        """GETs the replay API has answered so far."""
        return len(self.api.requests)

    def close(self) -> None:
        if self.sink_df is not None:
            self.sink_df.unpersist()
            self.sink_df = None
        if self._stack is not None:
            self._stack.close()
            self._stack = None

    # -- reads -----------------------------------------------------------
    def _scan_df(self, op: str):
        from pyspark.sql import functions as F

        syms, lo, hi, limit, push = self.grids[op]
        df = (
            self.ctx.spark.read.format("Alpaca_Stocks_Trades")
            .options(
                **self.AUTH,
                endpoint=self.api.endpoint,
                symbols=",".join(syms),
                start=lo.isoformat(),
                end=(hi - timedelta(microseconds=1)).isoformat(),
                limit=str(limit),
            )
            .load()
        )
        if push is not None:
            psyms, plo, phi = push
            df = df.filter(
                F.col("symbol").isin(list(psyms))
                & (F.col("time") >= F.lit(plo))
                & (F.col("time") < F.lit(phi))
            )
        return df

    def _scan_expect(self, op: str):
        syms, lo, hi, _limit, push = self.grids[op]
        if push is not None:
            syms, lo, hi = push
        return _id_hash(self._expect(syms, lo, hi))

    def _scan_execute(self, op: str) -> int:
        from alpaca_pyspark_spark.plans import force_evaluate

        ctx = self.ctx
        ctx.group("eval")
        with ctx.tracer.span("sources.alpaca:scan"):
            return force_evaluate(self._scan_df(op))

    def _scan_collect(self, op: str):
        return _id_hash(r["id"] for r in self._scan_df(op).select("id").collect())

    # -- writes ----------------------------------------------------------
    def _write_execute(self) -> int:
        ctx = self.ctx
        self.sink.pages.clear()
        self.sink.commits.clear()
        ctx.group("eval")
        with ctx.tracer.span("sources.sink:write"):
            self.sink_df.write.format("Rest_Batch_Sink").mode("append").options(
                endpoint=self.sink.endpoint, batch_size="500"
            ).save()
        if ctx.tracer.enabled:
            c = ctx.counters
            c["sink.posts"] = c.get("sink.posts", 0) + len(self.sink.pages)
            c["sink.commits"] = c.get("sink.commits", 0) + len(self.sink.commits)
            c["sink.rows"] = c.get("sink.rows", 0) + len(self.sink.records)
        return len(self.sink.records)

    def _landed(self):
        """(id hash, landed rows, manifest rows) of what the sink holds."""
        return (
            _id_hash(int(r["id"]) for r in self.sink.records),
            len(self.sink.records),
            self.sink.committed_rows(),
        )

    def _write_expect(self):
        h = _id_hash(r[4] for r in self.sink_rows)
        return (h, h[1], h[1])

    def _stream_execute(self) -> int:
        ctx = self.ctx
        self.sink.pages.clear()
        self.sink.commits.clear()
        ckpt = tempfile.mkdtemp(prefix="stream_ckpt_", dir=ctx.workdir)
        days = self.size["days"]
        with ctx.tracer.span("streaming:roundtrip"):
            stream = (
                ctx.spark.readStream.format("Alpaca_Stocks_Trades_Stream")
                .options(
                    **self.AUTH,
                    endpoint=self.api.endpoint,
                    symbols=",".join(self.stream_syms),
                    start=self.start.isoformat(),
                    end=self.end.isoformat(),
                    # two micro-batches over the tape
                    poll_interval=str(days * 86_400 / 2),
                )
                .load()
                .select("symbol", "time", "price", "size", "id")
            )
            q = (
                stream.writeStream.format("Rest_Batch_Sink")
                .options(endpoint=self.sink.endpoint, batch_size="500")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        if ctx.tracer.enabled:
            self._stream_counters(q.recentProgress)
        return len(self.sink.records)

    def _stream_counters(self, progress) -> None:
        c = self.ctx.counters
        c["stream.ops"] = c.get("stream.ops", 0) + 1
        for p in progress:
            d = p.durationMs
            c["stream.batches"] = c.get("stream.batches", 0) + 1
            c["stream.input_rows"] = c.get("stream.input_rows", 0) + p.numInputRows
            for k in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
                c[f"stream.{k}"] = c.get(f"stream.{k}", 0) + d.get(k, 0)
            for s in p.stateOperators:
                c["stream.state_rows"] = c.get("stream.state_rows", 0) + s.numRowsTotal
                c["stream.state_mem"] = c.get("stream.state_mem", 0) + s.memoryUsedBytes

    def _stream_expect(self):
        h = _id_hash(self._expect(self.stream_syms, self.start, self.end))
        return (h, h[1], h[1])

    def ops(self) -> list[Op]:
        out = []
        for op in self.grids:
            exp = self._scan_expect(op)
            out.append(
                Op(
                    op,
                    execute=lambda o=op: self._scan_execute(o),
                    collect=lambda o=op: self._scan_collect(o),
                    verify=lambda got, e=exp: got == e,
                    expected_rows=exp[1],
                    work_rows=exp[1],
                )
            )
        w, s = self._write_expect(), self._stream_expect()
        out.append(
            Op(
                "write_sink",
                execute=self._write_execute,
                collect=lambda: (self._write_execute(), self._landed())[1],
                verify=lambda got, e=w: got == e,
                expected_rows=w[1],
                work_rows=w[1],
            )
        )
        out.append(
            Op(
                "stream_roundtrip",
                execute=self._stream_execute,
                collect=lambda: (self._stream_execute(), self._landed())[1],
                verify=lambda got, e=s: got == e,
                expected_rows=s[1],
                work_rows=s[1],
            )
        )
        return out

    # -- driver-side replay of the scan grids (traced runs only) ---------
    def driver_fetch(self, op: str) -> dict[str, float]:
        """Plan, fetch and decode ``op``'s grid on the driver with no
        Spark: the connector's HTTP and wire layers in isolation."""
        from alpaca_pyspark_spark.sources.alpaca import TRADES_TABLE
        from alpaca_pyspark_spark.sources.http import make_fetcher, paginate
        from alpaca_pyspark_spark.sources.partitioning import plan_partitions

        syms, lo, hi, limit, push = self.grids[op]
        if push is not None:
            syms, lo, hi = push
        hi = hi - timedelta(microseconds=1)
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("sources.partitioning:plan_partitions"):
            parts = plan_partitions(list(syms), lo, hi, limit=limit)
        plan_s = time.perf_counter() - t0
        sess = CountingSession()
        seen0 = len(self.api.requests)
        pages, fetch_s = [], 0.0
        try:
            for p in parts:
                fetcher = make_fetcher(
                    self.api.endpoint, "stocks/trades", {"accept": "application/json"}, session=sess
                )
                params = {
                    "symbols": p.symbol,
                    "start": p.start.isoformat(),
                    "end": p.end.isoformat(),
                    "limit": str(limit),
                }
                t0 = time.perf_counter()
                with tr.span("sources.http:paginate"):
                    pages.extend(paginate(fetcher, params))
                fetch_s += time.perf_counter() - t0
        finally:
            sess.close()
        served = len(self.api.requests) - seen0
        rows = records = 0
        t0 = time.perf_counter()
        for page in pages:
            with tr.span("sources.wire:page_to_batch"):
                b = TRADES_TABLE.page_to_batch(page)
            rows += 0 if b is None else b.num_rows
        decode_s = time.perf_counter() - t0
        for page in pages:
            records += sum(len(v) for v in (page.get("trades") or {}).values())
        return {
            "plan_s": plan_s,
            "partitions": len(parts),
            "fetch_s": fetch_s,
            "requests": sess.requests,
            "served": served,
            "pages": len(pages),
            "bytes": sess.bytes,
            "decode_s": decode_s,
            "rows": rows,
            "skipped": records - rows,
        }


WORKLOADS = {
    "rest_ingest": RestIngest,
    "market_analytics": MarketAnalytics,
    "curation_udf": CurationUdf,
}
