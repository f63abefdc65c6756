"""Reusable harness for running a streaming query TO COMPLETION under
the exact-hash correctness gate (every registered executed-streaming
query shares it: q130, q131, q145, q146, q149, q153, q181, q190,
q191, q193, q196, q199 and both q202 forms).

The protocol it encapsulates:

* A file stream needs a directory source, so each input DataFrame is
  staged to a temp dir.  A query that needs watermark finalization
  stages a SENTINEL row at ``SENTINEL_TS`` with it; the sentinel drives
  the watermark past every real row so append-mode state finalizes.
* The sentinel must NOT be filtered inside the streaming plan:
  predicate pushdown sinks the filter below the EventTimeWatermark
  node and the sentinel never reaches the event-time stats (the
  watermark stalls and the append-mode tail stays withheld forever).
  Callers filter sentinel keys AFTER the memory sink.
* One drain.  A watermark advanced by a batch applies only in the next
  batch.  An available-now query stops only after the no-data batch
  its advanced watermark calls for, so waiting for it to terminate
  waits for the withheld tail too.
"""

from __future__ import annotations

import datetime
import logging
import shutil
import tempfile
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Event time of every sentinel row.  It must be later than any event
#: plus the largest watermark delay and window a gate query uses
#: (fixture events end in January 2024), and earlier than pandas'
#: ``datetime64[ns]`` limit, 2262-04-11: q153's
#: ``applyInPandasWithState`` converts event times to ns.
SENTINEL_TS = datetime.datetime(2200, 1, 1)

#: State-store instances, fixed at stream start from
#: ``spark.sql.shuffle.partitions``.  A real deployment sizes it to
#: stream rate; the gate uses the local throughput-matched 8.
STATE_PARTITIONS = 8


def run_streaming_gate(
    spark: SparkSession,
    sources: Sequence[tuple[DataFrame, DataFrame | None]],
    transform: Callable[..., DataFrame],
    *,
    output_mode: str = "append",
    prefix: str = "sgate",
) -> DataFrame:
    """Stage ``sources``, stream them through ``transform``, run the
    micro-batch engine to completion, and return the memory-sink table
    (a BATCH DataFrame the oracle gate can hash).

    ``sources`` is a sequence of ``(df, sentinel)`` pairs.  ``sentinel``
    is a ONE-ROW DataFrame with ``df``'s schema at ``SENTINEL_TS``
    (use :func:`sentinel_row`), staged with the data.  ``None`` stages
    no sentinel for that source (complete-mode / dedup / stateless
    queries that need no watermark finalization).

    ``transform`` receives one streaming DataFrame per source (file
    stream over the staged dir, with the staged DataFrame's schema) and
    returns the streaming result to sink.  Sentinel-key filtering is
    the CALLER's job, after this returns (never inside ``transform`` —
    see module docstring)."""
    # EVERYTHING after the conf save — staging, transform(), start(),
    # the drain — runs inside the try, so an exception anywhere still
    # restores the conf (a leaked 8 would silently narrow every
    # follow-on wide shuffle) and removes the staged dirs (one table
    # copy per failed gate in a long-lived session).
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    dirs: list[str] = []
    name: str | None = None
    q = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        streams: list[DataFrame] = []
        for df, sent in sources:
            src = tempfile.mkdtemp(prefix=f"{prefix}_")
            dirs.append(src)
            staged = df if sent is None else df.unionByName(sent)
            staged.write.mode("overwrite").parquet(src)
            streams.append(spark.readStream.schema(staged.schema).parquet(src))
        result = transform(*streams)
        name = f"{prefix}_{uuid.uuid4().hex[:8]}"
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
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
    row_for_ts: Callable[[datetime.datetime], tuple],
    schema: str,
) -> DataFrame:
    """One-row sentinel DataFrame at ``SENTINEL_TS``.

    ``row_for_ts`` maps the sentinel timestamp to the full row tuple
    (the caller decides which out-of-domain key marks it, e.g. user_id
    −1), ``schema`` is the DDL string matching the staged source.  The
    row is a one-task literal scan; a timestamp goes in as its text, so
    the cast reads the wall-clock value whatever the session zone."""
    fields = StructType.fromDDL(schema).fields
    row = row_for_ts(SENTINEL_TS)
    return spark.range(1, numPartitions=1).select(*(
        F.lit(str(v) if isinstance(v, datetime.datetime) else v)
        .cast(f.dataType).alias(f.name)
        for v, f in zip(row, fields)
    ))
