"""Wire-format parsing and Arrow batch assembly.

The reference is row-ingested, column-emitted (SURVEY.md §1.1): JSON
records per symbol arrive as ``{data_key: {symbol: [records...]}}``
(common.py:476-483), are converted row-by-row with strict casts, then
buffered per-column and shipped to Spark as one Arrow ``RecordBatch``
per API page (common.py:461-493).  Malformed records are skipped with
a warning, never failing the job (common.py:484-486; C5).

This module re-expresses that as a declarative :class:`FieldSpec`
table per source instead of hand-written ``_parse_record`` methods.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable

import pyarrow as pa

logger = logging.getLogger(__name__)


def parse_utc_timestamp(value: Any) -> datetime:
    """ISO-8601 (offset-aware or 'Z') → tz-aware UTC datetime
    (reference casts via ``dt.fromisoformat``, bars.py:215)."""
    if value is None:
        return None
    dt = datetime.fromisoformat(str(value).replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def join_conditions(value: Any) -> str:
    """Trade ``conditions`` JSON array → comma-joined string
    (stocks/trades.py:128; missing → '')."""
    if value is None:
        return ""
    return ",".join(str(v) for v in value)


@dataclass(frozen=True)
class FieldSpec:
    """One output column: wire key, Arrow type, converter, and the
    default used when the key is absent (None = required unless
    nullable)."""

    name: str
    wire_key: str
    arrow_type: pa.DataType
    convert: Callable[[Any], Any]
    default: Any = None
    nullable: bool = False

    def extract(self, record: dict[str, Any]) -> Any:
        if self.wire_key not in record or record[self.wire_key] is None:
            if self.nullable:
                return None
            if self.default is not None:
                return self.default
            raise ValueError(f"missing required field {self.wire_key!r}")
        return self.convert(record[self.wire_key])


TS_UTC_US = pa.timestamp("us", tz="UTC")


class RecordTable:
    """A source's wire schema: symbol column + field specs."""

    def __init__(self, data_key: str, fields: list[FieldSpec]):
        self.data_key = data_key
        self.fields = fields
        self.arrow_schema = pa.schema(
            [pa.field("symbol", pa.string())]
            + [pa.field(f.name, f.arrow_type, nullable=True) for f in fields]
        )

    @property
    def ddl(self) -> str:
        """Spark DDL twin of the Arrow schema (the reference declares
        both and keeps them in sync; SURVEY.md §1.2)."""
        mapping = {
            pa.string(): "STRING",
            pa.float64(): "DOUBLE",
            pa.int64(): "BIGINT",
            TS_UTC_US: "TIMESTAMP",
        }
        cols = ["symbol STRING"] + [
            f"{f.name} {mapping[f.arrow_type]}" for f in self.fields
        ]
        return ", ".join(cols)

    def iter_rows(self, page: dict[str, Any]) -> Iterator[tuple]:
        """Re-group ``{data_key: {symbol: [records]}}`` to rows,
        re-attaching the symbol; malformed records are skipped with a
        warning (C5 semantics)."""
        data = page.get(self.data_key) or {}
        # single-symbol endpoints may return a bare list
        items = data.items() if isinstance(data, dict) else [(None, data)]
        for symbol, records in items:
            for record in records or []:
                try:
                    yield (symbol, *[f.extract(record) for f in self.fields])
                except (ValueError, TypeError) as exc:
                    logger.warning("skipping malformed record %r: %s", record, exc)

    def page_to_batch(self, page: dict[str, Any]) -> pa.RecordBatch | None:
        """One API page → one Arrow RecordBatch (columnar buffers,
        typed arrays); None for an empty page (common.py:455, 488-493).
        """
        columns: list[list[Any]] = [[] for _ in range(len(self.fields) + 1)]
        n = 0
        for row in self.iter_rows(page):
            for buf, value in zip(columns, row):
                buf.append(value)
            n += 1
        if n == 0:
            return None
        arrays = [
            pa.array(buf, type=field.type)
            for buf, field in zip(columns, self.arrow_schema)
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=self.arrow_schema)
