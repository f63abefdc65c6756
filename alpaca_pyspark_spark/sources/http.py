"""HTTP layer: url building, retrying page fetch, pagination.

Spark-free and dependency-injectable (tests pass a fake transport), so
the whole fetch pipeline is unit-testable without network or Spark —
the property the reference's tests rely on (SURVEY.md §5.1/§5.4).

Resilience semantics preserved from the reference (SURVEY.md §2E):
retry total=3 / backoff 1 s on {429,500,502,503,504} idempotent-only
(common.py:151-156), connect/read timeout (10 s, 30 s)
(common.py:126), non-OK → HTTPError with body context
(common.py:128-134), optional client rate-limit sleep between pages —
only when another page exists (common.py:202-205), at least one page
always fetched (common.py:192-205).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterator
from typing import Any
from urllib.parse import quote

logger = logging.getLogger(__name__)

RETRY_TOTAL = 3
RETRY_BACKOFF = 1.0
RETRY_STATUSES = (429, 500, 502, 503, 504)
REQUEST_TIMEOUT = (10.0, 30.0)  # (connect, read) seconds

#: A page fetcher: query params -> decoded JSON page.
Fetcher = Callable[[dict[str, str]], dict[str, Any]]


def build_url(endpoint: str, path: str, params: dict[str, Any]) -> str:
    """Join endpoint + path and encode query params; ``None`` values
    are dropped (common.py:62-87 semantics, incl. quoting)."""
    base = f"{endpoint.rstrip('/')}/{path.lstrip('/')}"
    pairs = [
        f"{quote(str(k), safe='')}={quote(str(v), safe='')}"
        for k, v in params.items()
        if v is not None
    ]
    return f"{base}?{'&'.join(pairs)}" if pairs else base


def make_session(retries: int | None = None):
    """requests.Session with the reference's retry strategy mounted
    (``retries`` overrides the total; None keeps the reference's 3)."""
    import requests
    from requests.adapters import HTTPAdapter
    from urllib3.util.retry import Retry

    retry = Retry(
        total=RETRY_TOTAL if retries is None else retries,
        backoff_factor=RETRY_BACKOFF,
        status_forcelist=list(RETRY_STATUSES),
        allowed_methods=frozenset({"GET", "HEAD", "OPTIONS"}),
    )
    session = requests.Session()
    adapter = HTTPAdapter(max_retries=retry)
    session.mount("https://", adapter)
    session.mount("http://", adapter)
    return session


def make_fetcher(
    endpoint: str,
    path: str,
    headers: dict[str, str],
    session: Any | None = None,
    *,
    timeout: float | None = None,
    retries: int | None = None,
) -> Fetcher:
    """Build the per-partition page fetcher (executor-side).
    ``timeout`` overrides the read timeout (connect stays 10 s);
    ``retries`` overrides the retry total — both None by default,
    preserving the reference's constants."""
    import requests

    sess = session or make_session(retries)
    req_timeout = REQUEST_TIMEOUT if timeout is None else (REQUEST_TIMEOUT[0], timeout)

    def fetch(params: dict[str, str]) -> dict[str, Any]:
        url = build_url(endpoint, path, params)
        try:
            resp = sess.get(url, headers=headers, timeout=req_timeout)
        except requests.RequestException:
            logger.exception("request failed: %s", url)
            raise
        if not resp.ok:
            raise requests.HTTPError(
                f"HTTP {resp.status_code} for {url}: {resp.text[:500]}",
                response=resp,
            )
        return resp.json()

    return fetch


def paginate(
    fetcher: Fetcher,
    params: dict[str, str],
    *,
    rate_limit_delay: float = 0.0,
) -> Iterator[dict[str, Any]]:
    """Lazily yield pages, following ``next_page_token`` until absent;
    always fetches at least one page."""
    token: str | None = None
    while True:
        page_params = dict(params)
        if token:
            page_params["page_token"] = token
        page = fetcher(page_params)
        yield page
        token = page.get("next_page_token")
        if not token:
            return
        if rate_limit_delay > 0:
            time.sleep(rate_limit_delay)
