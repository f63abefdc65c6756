"""Reusable harness for running a streaming query TO COMPLETION under
the exact-hash correctness gate (every registered executed-streaming
query shares it: q130, q131, q145, q146, q149, q153, q181, q190,
q191, q193, q196, q199 and both q202 forms).

The protocol it encapsulates (learned the hard way, round 3–4):

* A file stream needs a directory source, so each input DataFrame is
  staged to a temp dir together with a FAR-FUTURE SENTINEL row whose
  event time exceeds every real row — that is what drives the
  watermark past the data so append-mode state finalizes.
* The sentinel must NOT be filtered inside the streaming plan:
  predicate pushdown sinks the filter below the EventTimeWatermark
  node and the sentinel never reaches the event-time stats (the
  watermark stalls and the append-mode tail stays withheld forever).
  Callers filter sentinel keys AFTER the memory sink.
* Watermark advancement from a batch applies only in the NEXT batch,
  and the engine's no-data batch races ``processAllAvailable`` — so
  after the first drain a SECOND, even-later sentinel is appended to
  every source and drained again; the withheld rows flush inside that
  waited-on data batch (the "two-sentinel protocol").

Scale note (items graded at 100 TB): the one driver-side action is a
single ``max(ts)`` scan of the events table, memoized per ``sf_dir``
for the session so N streaming queries cost one scan, not N
(`events_max_ts`).  State-store sizing is a dial (`shuffle_partitions`
— fixed at stream start from ``spark.sql.shuffle.partitions``); a real
deployment sizes it to stream rate, the gate uses the local
throughput-matched 8.
"""

from __future__ import annotations

import datetime
import logging
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

#: (sf_dir, events-files fingerprint) -> max event timestamp; one
#: scan per session per scale per on-disk version of the table.
_MAX_TS_CACHE: dict[tuple[str, tuple], datetime.datetime] = {}


def _events_fingerprint(sf_dir: str) -> tuple:
    """Cheap on-disk version of ``events`` (sorted name/mtime_ns/size
    per file) — a directory LISTING, never a data scan.  Nanosecond
    mtime (not whole seconds): a table rewritten within the same
    second with identical names/sizes must MISS the cache, else
    ``events_max_ts`` returns a stale max and the sentinel lands too
    early (the exact watermark-withheld-tail hazard this fingerprint
    exists to prevent)."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        entries = sorted(os.listdir(path))
        # ONE stat per entry: two stats could straddle a concurrent
        # rewrite and pair one version's mtime with another's size — a
        # fingerprint matching neither state, i.e. the stale-cache
        # window this function exists to close.
        return tuple(
            (e, st.st_mtime_ns, st.st_size)
            for e in entries
            for st in (os.stat(os.path.join(path, e)),)
        )
    st = os.stat(path)
    return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)


def events_max_ts(spark: SparkSession, sf_dir: str) -> datetime.datetime:
    """Max ``events.ts`` for ``sf_dir``, memoized for the session.

    Every sentinel-protocol streaming query needs this one scalar; at
    scale an extra full scan per query is real money, so it is fetched
    once per (session, sf_dir, table version) and reused.  The cache
    key includes a file-listing fingerprint of the events table, so a
    long-lived session that rewrites or appends to the table gets a
    fresh max (a stale max would place the sentinel too early and the
    watermark would silently withhold the new tail)."""
    key = (sf_dir, _events_fingerprint(sf_dir))
    if key not in _MAX_TS_CACHE:
        m = load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
        if m is None:
            # empty table: any sentinel base works — there is no data
            # for the watermark to withhold; pick a fixed epoch so the
            # sentinel protocol (and the query) stays total on empty
            # input instead of crashing on None arithmetic
            m = datetime.datetime(2000, 1, 1)
        _MAX_TS_CACHE[key] = m
    return _MAX_TS_CACHE[key]


def run_streaming_gate(
    spark: SparkSession,
    sources: Sequence[tuple[DataFrame, DataFrame | None]],
    transform: Callable[..., DataFrame],
    *,
    output_mode: str = "append",
    shuffle_partitions: int = 8,
    prefix: str = "sgate",
) -> DataFrame:
    """Stage ``sources``, stream them through ``transform``, run the
    micro-batch engine to completion, and return the memory-sink table
    (a BATCH DataFrame the oracle gate can hash).

    ``sources`` is a sequence of ``(df, sentinel)`` pairs.  ``sentinel``
    is a ONE-ROW DataFrame with ``df``'s schema whose event time is
    ``events_max_ts + 100 days`` (use :func:`sentinel_row`); it is
    staged with the data, and a 200-day copy is appended for the second
    drain.  ``None`` skips the sentinel protocol for that source
    (complete-mode / dedup queries that need no watermark finalization).

    ``transform`` receives one streaming DataFrame per source (file
    stream over the staged dir, schema inferred from the staged
    parquet) and returns the streaming result to sink.  Sentinel-key
    filtering is the CALLER's job, after this returns (never inside
    ``transform`` — see module docstring)."""
    # State-store instance count is fixed at stream start from this
    # conf; set it for the stream, restore the caller's value after
    # (leaking 8 into follow-on batch work would silently narrow every
    # wide shuffle until the next tune()).  EVERYTHING after the conf
    # save — staging, transform(), start(), drains — runs inside the
    # try, so an exception anywhere still restores the conf and
    # removes the staged dirs (a leaked 8 would silently narrow every
    # follow-on wide shuffle; leaked staged dirs accumulate one table
    # copy per failed gate in a long-lived session).
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    dirs: list[str] = []
    name: str | None = None
    q = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        streams: list[DataFrame] = []
        sentinels: list[DataFrame | None] = []
        for df, sent in sources:
            src = tempfile.mkdtemp(prefix=f"{prefix}_")
            dirs.append(src)
            staged = df if sent is None else df.unionByName(sent)
            staged.write.mode("overwrite").parquet(src)
            sentinels.append(sent)
            streams.append(
                spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
            )
        result = transform(*streams)
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
        q.processAllAvailable()
        late = [(s, x) for s, x in zip(dirs, sentinels) if x is not None]
        if late:
            # Second drain: shift each sentinel another 100 days out so
            # the new batch's event-time max strictly advances the
            # watermark past the first sentinel, flushing withheld rows.
            for src, sent in late:
                _shift_ts_100d(sent).write.mode("append").parquet(src)
            q.processAllAvailable()
        q.stop()
        q = None
        # Decouple the result from the gate's resources before
        # returning: an eager localCheckpoint copies the sink rows into
        # RDD blocks the ContextCleaner frees when the caller drops the
        # DataFrame, after which the memory-sink view and the staged
        # parquet dirs can go immediately — a long-lived session (the
        # one-JVM 203-query bench, the sf1 stress sweep) accumulates no
        # staged table copies or pinned result tables.  (The gate is
        # harness plumbing for the hash-check; result tables are query
        # outputs, far below corpus scale.)
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        # Each cleanup step is independent; none may mask the others.
        # If q.stop() raises (session already stopped, stream in a
        # terminal error), the conf restore and staged-dir rmtree must
        # still run — leaking them is exactly what this block prevents.
        # Swallowed exceptions are logged (not discarded) so a wedged
        # teardown leaves a trace without masking sibling cleanups.
        log = logging.getLogger(__name__)
        if q is not None:
            try:
                q.stop()
            except Exception:
                log.warning("streaming gate: q.stop() failed", exc_info=True)
        if name is not None:
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                log.warning(
                    "streaming gate: dropTempView(%s) failed", name,
                    exc_info=True,
                )
        try:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        except Exception:
            log.warning(
                "streaming gate: shuffle.partitions restore failed",
                exc_info=True,
            )
        for src in dirs:
            shutil.rmtree(src, ignore_errors=True)


def sentinel_row(
    spark: SparkSession,
    sf_dir: str,
    row_for_ts: Callable[[datetime.datetime], tuple],
    schema: str,
) -> DataFrame:
    """One-row sentinel DataFrame at ``events_max_ts + 100 days``.

    ``row_for_ts`` maps the sentinel timestamp to the full row tuple
    (the caller decides which out-of-domain key marks it, e.g. user_id
    −1), ``schema`` is the DDL string matching the staged source."""
    ts = events_max_ts(spark, sf_dir) + datetime.timedelta(days=100)
    return spark.createDataFrame([row_for_ts(ts)], schema)


def _shift_ts_100d(sent: DataFrame) -> DataFrame:
    """The second-drain sentinel: same row, event time +100 days."""
    ts_cols = [
        f.name
        for f in sent.schema.fields
        if f.dataType.typeName() in ("timestamp", "timestamp_ntz")
    ]
    out = sent
    for c in ts_cols:
        out = out.withColumn(c, F.col(c) + F.expr("INTERVAL 100 DAYS"))
    return out
