"""Partition planning: the symbol × time-slice grid.

The unit of Spark parallelism for a REST scan is one (symbol,
time-slice) cell (SURVEY.md §2B; reference ``common.py:53-59,
364-382``).  Planning is driver-side, cheap, and deliberately manual:
Catalyst cannot plan inside a Python DataSource, so the option set IS
the pushdown surface and this grid IS the partition pruning.

Bars additionally size slices adaptively from the expected row volume
(reference ``bars.py:189-197`` formula, preserved exactly):

    num_slices = max(1, ceil((range / timeframe) / (limit × PAGES_PER_PARTITION)))

so each task fetches ≈ ``PAGES_PER_PARTITION`` API pages — small
enough for retry granularity, big enough to amortize request latency.
At 1000 executors the grid (|symbols| × num_slices tasks) is exactly
the knob that keeps every executor busy without hammering the API.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql.datasource import InputPartition

from .spec import TIMEFRAME_PATTERN

DEFAULT_LIMIT = 10_000  # rows per page (common.py:24)
PAGES_PER_PARTITION = 5  # target pages per task (bars.py:29)
DEFAULT_SLICE = timedelta(days=1)  # non-bars slice (common.py:360-362)

#: Timeframe unit → timedelta; trading-week ≈ 5 days, trading-month ≈
#: 20 days (reference bars.py:180-185 approximations); alternate
#: spellings per bars.py:38-73.
_UNIT_ALIASES: dict[str, timedelta] = {
    "min": timedelta(minutes=1),
    "minute": timedelta(minutes=1),
    "t": timedelta(minutes=1),
    "hour": timedelta(hours=1),
    "h": timedelta(hours=1),
    "day": timedelta(days=1),
    "d": timedelta(days=1),
    "week": timedelta(days=5),
    "w": timedelta(days=5),
    "month": timedelta(days=20),
    "m": timedelta(days=20),
}


def parse_timeframe(timeframe: str) -> timedelta:
    """``"5Min" / "1Hour" / "2Weeks" / "3Months"`` → timedelta.
    Case-insensitive, plural-tolerant (trailing ``s``)."""
    m = re.match(TIMEFRAME_PATTERN, timeframe)
    if not m:
        raise ValueError(f"Invalid timeframe {timeframe!r}")
    count, unit, _plural = m.groups()
    unit_td = _UNIT_ALIASES.get(unit.lower())
    if unit_td is None:
        raise ValueError(f"Unknown timeframe unit {unit!r} in {timeframe!r}")
    return int(count) * unit_td


@dataclass
class SymbolSlicePartition(InputPartition):
    """One Spark task: one symbol over one half-open time slice."""

    symbol: str
    start: datetime
    end: datetime


def adaptive_slice_count(
    total_range: timedelta,
    timeframe: timedelta,
    *,
    limit: int = DEFAULT_LIMIT,
) -> int:
    """The reference's volume model (bars.py:189-197): expected rows =
    range/timeframe; one slice per limit×pages expected rows."""
    expected_rows = total_range / timeframe
    return max(1, math.ceil(expected_rows / (limit * PAGES_PER_PARTITION)))


def plan_partitions(
    symbols: list[str],
    start: datetime,
    end: datetime,
    *,
    timeframe: timedelta | None = None,
    limit: int = DEFAULT_LIMIT,
) -> list[SymbolSlicePartition]:
    """Cartesian grid of symbols × equal time slices.

    With a ``timeframe`` (bars) the slice count is volume-adaptive;
    otherwise fixed 1-day slices (min 1)."""
    total = end - start
    if total < timedelta(0):
        raise ValueError("start must be <= end")
    if timeframe is not None:
        n = adaptive_slice_count(total, timeframe, limit=limit)
    else:
        n = max(1, math.ceil(total / DEFAULT_SLICE))
    slice_td = total / n if n else total
    out: list[SymbolSlicePartition] = []
    for symbol in symbols:
        for i in range(n):
            s = start + i * slice_td
            e = end if i == n - 1 else start + (i + 1) * slice_td
            out.append(SymbolSlicePartition(symbol, s, e))
    return out
