"""Custom stateful streaming: ``applyInPandasWithState``.

``session_window`` expresses GAP-terminated sessions; nothing built in
expresses EVENT-terminated ones — "the session ends when a logout /
market-close / flush marker arrives".  That needs per-key mutable
state across micro-batches, which is exactly what
``applyInPandasWithState`` provides: Spark shuffles each key to one
task per batch, hands us the key's accumulated state, and persists the
update in the checkpointed state store.

Scale: state is one small row per OPEN session (key), not per event;
the event-time timeout evicts abandoned sessions once the watermark
passes ``last_ts + timeout``, so state stays bounded on unbounded
streams exactly like the built-in session_window's watermark
semantics.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from . import watermarked

_OUTPUT = StructType(
    [
        StructField("key", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("ended_by", LongType()),  # 1 = marker, 0 = timeout
    ]
)
_STATE = StructType(
    [
        StructField("session_start", LongType()),  # µs since epoch
        StructField("last_ts", LongType()),
        StructField("n", LongType()),
    ]
)

_US = 1_000_000


def event_terminated_sessions(
    events: DataFrame,
    *,
    key: str,
    ts: str,
    end_marker: Column,
    watermark_delay: str = "1 hour",
    timeout_ms: int = 60 * 60 * 1000,
) -> DataFrame:
    """Sessions closed by an explicit end-marker event.

    ``end_marker`` is a boolean Column evaluated per event; a marked
    event closes its key's open session (inclusive).  Open sessions
    whose key stays silent past ``timeout_ms`` beyond the watermark
    are flushed with ``ended_by = 0``.

    Emits one row per closed session (append semantics).
    """
    marked = events.select(
        F.col(key).alias("key"),
        F.col(ts).alias("ts"),
        end_marker.cast("boolean").alias("is_end"),
    )
    marked = watermarked(marked, "ts", watermark_delay)

    def fn(
        k: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [k[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "ended_by": [0],
                }
            )
            return
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        out: list[tuple[int, int, int]] = []  # (start, end, n) closed sessions
        chunks = list(pdfs)
        if chunks:
            # a key's batch arrives as multiple Arrow chunks; event
            # order is only meaningful after concatenating them all
            pdf = pd.concat(chunks).sort_values("ts")
            for t, is_end in zip(pdf["ts"], pdf["is_end"]):
                t_us = t.value // 1000  # pandas ns -> µs
                if start_us is None:
                    start_us, n = t_us, 0
                last_us, n = t_us, n + 1
                if is_end:
                    out.append((start_us, last_us, n))
                    start_us, last_us, n = None, None, 0
        if start_us is None:
            if state.exists:
                state.remove()
        else:
            state.update((start_us, last_us, n))
            state.setTimeoutTimestamp(last_us // 1000 + timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    "key": [k[0]] * len(out),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in out],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in out],
                    "n_events": [c for _, _, c in out],
                    "ended_by": [1] * len(out),
                }
            )

    return marked.groupBy("key").applyInPandasWithState(
        fn, _OUTPUT, _STATE, "append", GroupStateTimeout.EventTimeTimeout
    )


_ADMIT_OUTPUT = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("cum_tokens", LongType()),
        StructField("admitted", LongType()),  # 1 = within budget
    ]
)
_ADMIT_STATE = StructType([StructField("cum", LongType())])


def budgeted_admission(
    docs: DataFrame,
    *,
    key: str,
    order: str,
    weight: str,
    budget: int,
) -> DataFrame:
    """Per-key token-budget admission at ingest: each arriving record
    adds its ``weight`` to the key's running total and is ADMITTED iff
    the total (including itself) still fits ``budget`` — the streaming
    twin of the batch prefix-cut selection (q194's rule, keyed): once
    a key's budget is crossed, every later record is rejected, so the
    admitted set is exactly the maximal fitting prefix of the
    ``order``-sorted stream.

    The decision is emitted immediately (no watermark, no withheld
    tail): admission is a pure left-fold over the key's history, and
    the one-BIGINT-per-key state is the entire history summary —
    state size is |keys|, independent of stream length, the smallest
    stateful-streaming footprint there is.  Records inside one
    micro-batch are folded in ``order`` (arrival order across batches,
    ``order`` within a batch — the staged-ingest discipline where file
    order is monotone in ``order``, cf. ``streaming.gate``).
    """
    src = docs.select(
        F.col(key).alias("source"),
        F.col(order).cast("long").alias("doc_id"),
        F.col(weight).cast("long").alias("n_tokens"),
    )

    def fn(
        k: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cum = state.get[0] if state.exists else 0
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values("doc_id")
        cums, flags = [], []
        for w in pdf["n_tokens"]:
            # defensive at the fold: a NULL weight (NaN here) counts 0
            # and a negative weight must NEVER refund spent budget —
            # one malformed record may not crash the stream or break
            # the once-rejected-stays-rejected prefix invariant.
            # (Registered callers coalesce upstream; this is the
            # operator's own contract.)
            cum += 0 if pd.isna(w) else max(int(w), 0)
            cums.append(cum)
            flags.append(1 if cum <= budget else 0)
        state.update((cum,))
        yield pd.DataFrame(
            {
                "source": [k[0]] * len(pdf),
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": pdf["n_tokens"].to_numpy(),
                "cum_tokens": cums,
                "admitted": flags,
            }
        )

    return src.groupBy("source").applyInPandasWithState(
        fn, _ADMIT_OUTPUT, _ADMIT_STATE, "append", GroupStateTimeout.NoTimeout
    )
