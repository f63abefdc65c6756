"""REST batch sink on the Spark 4 Python DataSource write API.

The reference engine has NO write path (SURVEY.md §2A: "Sinks —
none; output is a DataFrame").  This module completes the connector
framework with its natural inverse: each task serializes its
partition to JSON pages and POSTs them to a REST endpoint, with the
same option model (``spec.EndpointConfig``), retry session
(``http.make_session``) and page-sized batching (``limit`` analog)
the read side uses.

Two-phase-commit shape: tasks return a ``WriterCommitMessage`` with
their row/page counts; only after EVERY task succeeds does the
driver's ``commit()`` POST a single manifest to ``commit_path`` —
a downstream consumer that waits for the manifest sees either the
whole dataset or nothing, Spark re-runs failed tasks (the per-page
POSTs must therefore be idempotent upserts server-side, exactly like
any at-least-once sink), and ``abort()`` posts a tombstone so
partial output can be garbage-collected.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .http import REQUEST_TIMEOUT, build_url, make_session
from .spec import EndpointConfig, KEY_ID_OPTION, SECRET_OPTION

logger = logging.getLogger(__name__)

DEFAULT_BATCH_SIZE = 1000


@dataclass
class _PartitionResult(WriterCommitMessage):
    rows: int
    pages: int


def _json_default(v: Any) -> Any:
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    raise TypeError(f"not JSON-serializable: {type(v)!r}")


def _manifest(messages: list[_PartitionResult], **extra: Any) -> dict[str, Any]:
    """The commit manifest: ``status``, then ``extra`` (the stream's
    ``batch_id``), then the partition/row/page totals."""
    return {
        "status": "committed",
        **extra,
        "partitions": len(messages),
        "rows": sum(m.rows for m in messages),
        "pages": sum(m.pages for m in messages),
    }


class RestBatchWriter(DataSourceWriter):
    """Executor side: page the partition's rows and POST each page."""

    def __init__(
        self,
        config: EndpointConfig,
        path: str,
        commit_path: str,
        batch_size: int,
        columns: list[str],
    ):
        self._config = config
        self._path = path
        self._commit_path = commit_path
        self._batch_size = batch_size
        self._columns = columns
        self._session = None

    def _post(self, path: str, payload: dict[str, Any]) -> None:
        # one retry-configured session per writer instance — connection
        # reuse across a partition's pages instead of a fresh TCP/TLS
        # handshake per POST
        if self._session is None:
            self._session = make_session()
        sess = self._session
        url = build_url(self._config.endpoint, path, {})
        resp = sess.post(
            url,
            data=json.dumps(payload, default=_json_default),
            headers={**self._config.headers, "content-type": "application/json"},
            timeout=REQUEST_TIMEOUT,
        )
        if not resp.ok:
            raise IOError(f"sink POST {url} -> {resp.status_code}: {resp.text[:200]}")

    def write(self, iterator: Iterator[Any]) -> _PartitionResult:
        rows = pages = 0
        page: list[dict[str, Any]] = []
        for row in iterator:
            page.append({c: row[i] for i, c in enumerate(self._columns)})
            if len(page) >= self._batch_size:
                self._post(self._path, {"records": page})
                rows += len(page)
                pages += 1
                page = []
        if page:
            self._post(self._path, {"records": page})
            rows += len(page)
            pages += 1
        return _PartitionResult(rows=rows, pages=pages)

    # driver side, after all tasks succeeded / any failed terminally
    def commit(self, messages: list[_PartitionResult]) -> None:
        self._post(self._commit_path, _manifest(messages))

    def abort(self, messages: list[_PartitionResult], **extra: Any) -> None:
        # best-effort tombstone: a failed abort POST must not mask the
        # original job failure with a secondary network error
        try:
            self._post(self._commit_path, {"status": "aborted", **extra})
        except OSError as e:  # requests.RequestException and _post's IOError
            logger.warning("sink abort tombstone POST failed: %s", e)


class RestStreamWriter(DataSourceStreamWriter):
    """Streaming micro-batch variant: same paged POSTs per task; the
    per-batch manifest carries ``batchId``, which is what makes
    replays detectable server-side — on failure recovery Structured
    Streaming re-runs the last uncommitted batch, the server sees the
    same batchId again and deduplicates (the standard idempotent-sink
    contract; same stance as ``streaming/enrich.py``'s merge sink)."""

    def __init__(self, inner: RestBatchWriter):
        self._inner = inner

    def write(self, iterator: Iterator[Any]) -> _PartitionResult:
        return self._inner.write(iterator)

    def commit(self, messages: list[_PartitionResult], batchId: int) -> None:
        self._inner._post(self._inner._commit_path, _manifest(messages, batch_id=batchId))

    def abort(self, messages: list[_PartitionResult], batchId: int) -> None:
        self._inner.abort(messages, batch_id=batchId)


class RestBatchSink(DataSource):
    """``df.write.format("Rest_Batch_Sink")`` — options:

    - ``endpoint`` (required): base URL
    - ``path`` (default ``ingest``): POST target for record pages
    - ``commit_path`` (default ``commit``): POST target for the
      driver's commit manifest / abort tombstone
    - ``batch_size`` (default 1000): rows per POST page
    - ``APCA-API-KEY-ID`` / ``APCA-API-SECRET-KEY`` (optional): sent
      as headers when present, mirroring the read side
    """

    def __init__(self, options: dict[str, Any]):
        super().__init__(options)
        # Spark lower-cases DataSource option names before they reach
        # Python (same normalization as spec.validate_options on the
        # read side) — look credentials up by lowercase key or
        # they are silently never sent
        options = {str(k).lower(): v for k, v in options.items()}
        endpoint = options.get("endpoint")
        if not endpoint:
            raise ValueError("Rest_Batch_Sink: 'endpoint' option is required")
        self._config = EndpointConfig(
            key_id=str(options.get(KEY_ID_OPTION.lower()) or ""),
            secret_key=str(options.get(SECRET_OPTION.lower()) or ""),
            endpoint=endpoint,
        )
        self._path = options.get("path", "ingest")
        self._commit_path = options.get("commit_path", "commit")
        self._batch_size = int(options.get("batch_size", DEFAULT_BATCH_SIZE))
        if self._batch_size <= 0:
            raise ValueError("Rest_Batch_Sink: batch_size must be positive")

    @classmethod
    def name(cls) -> str:
        return "Rest_Batch_Sink"

    def _writer(self, schema: StructType) -> RestBatchWriter:
        return RestBatchWriter(
            self._config,
            self._path,
            self._commit_path,
            self._batch_size,
            [f.name for f in schema.fields],
        )

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError(
                "Rest_Batch_Sink is append-only; use mode('append')"
            )
        return self._writer(schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return RestStreamWriter(self._writer(schema))
