"""Declarative option validation for REST-backed sources.

Reproduces the reference's validation *semantics* (SURVEY.md §1.3;
``/root/reference/alpaca_pyspark/common.py:214-288``) with a different
mechanism: instead of an inheritance chain of ``_validate_params``
overrides, each source declares a list of :class:`ParamSpec` and one
engine applies them.  Semantics preserved:

- options are a flat ``str -> str`` dict, validated eagerly on the
  driver (all errors surface before any job runs);
- missing required option → ``ValueError`` (common.py:239-243);
- unknown options → ``warnings.warn``, not an error (common.py:245-250);
- ``symbols`` accepts a real list/tuple or a Python-literal string,
  parsed with ``ast.literal_eval`` (common.py:252-267);
- ``start``/``end`` must be ISO-8601 with ``start <= end``
  (common.py:269-285);
- enum params are checked case-insensitively (bars.py:108-110,
  stocks/bars.py:54-66);
- regex params (timeframe ``^(\\d+)([A-Za-z]+)(s?)$`` bars.py:100-105,
  asof ``YYYY-MM-DD`` stocks/bars.py:68-71);
- comma-list enums (corporate-action ``types``,
  corp_actions/corporate_actions.py:72-79).
"""

from __future__ import annotations

import ast
import re
import warnings
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

DEFAULT_ENDPOINT = "https://data.alpaca.markets/v2"
CRYPTO_ENDPOINT = "https://data.alpaca.markets/v1beta3"
KEY_ID_OPTION = "APCA-API-KEY-ID"
SECRET_OPTION = "APCA-API-SECRET-KEY"

#: Options consumed by the endpoint layer, never forwarded as query
#: params (the reference splits these into EndpointConfig,
#: common.py:35-42).
ENDPOINT_OPTIONS = (
    KEY_ID_OPTION,
    SECRET_OPTION,
    "endpoint",
    "rate_limit_delay",
    "timeout",
    "retries",
)


@dataclass(frozen=True)
class ParamSpec:
    """One declarable query parameter."""

    name: str
    required: bool = False
    enum: tuple[str, ...] | None = None
    enum_multi: bool = False  # comma-separated list of enum values
    pattern: str | None = None

    def validate(self, value: str) -> None:
        if self.enum is not None:
            values = value.split(",") if self.enum_multi else [value]
            for v in values:
                if v.strip().lower() not in self.enum:
                    raise ValueError(
                        f"Invalid value {v.strip()!r} for option {self.name!r}; "
                        f"expected one of {sorted(self.enum)}"
                    )
        if self.pattern is not None and not re.match(self.pattern, value):
            raise ValueError(
                f"Invalid value {value!r} for option {self.name!r}; "
                f"must match {self.pattern}"
            )


@dataclass(frozen=True)
class EndpointConfig:
    key_id: str
    secret_key: str
    endpoint: str = DEFAULT_ENDPOINT
    rate_limit_delay: float = 0.0
    #: read-timeout override in seconds (None = the 10 s/30 s default).
    #: The reference DOCUMENTS this option but never implements it
    #: (ref USAGE.md:65-75 vs common.py) — here it is functional.
    timeout: float | None = None
    #: retry-count override (None = the reference's total=3).
    retries: int | None = None

    @property
    def headers(self) -> dict[str, str]:
        headers = {"accept": "application/json"}
        if self.key_id:
            headers[KEY_ID_OPTION] = self.key_id
        if self.secret_key:
            headers[SECRET_OPTION] = self.secret_key
        return headers


def parse_symbols(raw: Any) -> list[str]:
    """Accept a real list/tuple or a Python-literal string
    (common.py:252-267 semantics)."""
    if isinstance(raw, (list, tuple)):
        return [str(s) for s in raw]
    if isinstance(raw, str):
        try:
            parsed = ast.literal_eval(raw)
        except (ValueError, SyntaxError):
            # plain single symbol, or comma list without brackets
            return [s.strip() for s in raw.split(",") if s.strip()]
        if isinstance(parsed, (list, tuple)):
            return [str(s) for s in parsed]
        return [str(parsed)]
    raise ValueError(f"symbols must be a list or string, got {type(raw).__name__}")


def parse_iso_datetime(value: str, option: str) -> datetime:
    """ISO-8601 → datetime.  A naive value is taken as UTC (the rule of
    ``wire.parse_utc_timestamp``), so naive and aware bounds compare;
    an aware value is returned as given."""
    try:
        dt = datetime.fromisoformat(value)
    except ValueError as exc:
        raise ValueError(f"Option {option!r} is not ISO-8601: {value!r}") from exc
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def validate_options(
    options: dict[str, Any],
    specs: list[ParamSpec],
    *,
    require_auth: bool = True,
    default_endpoint: str = DEFAULT_ENDPOINT,
) -> tuple[EndpointConfig, dict[str, str]]:
    """Validate a source's options eagerly; returns (endpoint config,
    query params).  Raises ``ValueError`` for missing/invalid values,
    warns (does not fail) on unknown options.

    ``require_auth=False`` covers endpoints that serve market data
    without credentials (crypto): keys become optional and, when
    absent, no auth headers are sent.

    Option keys are matched case-insensitively: Spark's DataFrameReader
    lower-cases option names before they reach a Python DataSource.
    """
    options = {str(k).lower(): v for k, v in options.items()}
    if require_auth:
        for key in (KEY_ID_OPTION, SECRET_OPTION):
            if not options.get(key.lower()):
                raise ValueError(f"Missing required option {key!r}")
    config = EndpointConfig(
        key_id=str(options.get(KEY_ID_OPTION.lower()) or ""),
        secret_key=str(options.get(SECRET_OPTION.lower()) or ""),
        endpoint=str(options.get("endpoint", default_endpoint)),
        rate_limit_delay=float(options.get("rate_limit_delay", 0.0)),
        timeout=(
            float(options["timeout"])
            if options.get("timeout") not in (None, "")
            else None
        ),
        retries=(
            int(options["retries"])
            if options.get("retries") not in (None, "")
            else None
        ),
    )

    by_name = {s.name: s for s in specs}
    known = {n.lower() for n in by_name} | {o.lower() for o in ENDPOINT_OPTIONS}
    unknown = sorted(set(map(str, options)) - known)
    if unknown:
        warnings.warn(f"Unexpected options ignored: {unknown}", stacklevel=2)

    params: dict[str, str] = {}
    for spec in specs:
        if spec.name not in options or options[spec.name] in (None, ""):
            if spec.required:
                raise ValueError(f"Missing required option {spec.name!r}")
            continue
        value = options[spec.name]
        if spec.name == "symbols":
            symbols = parse_symbols(value)
            if not symbols:
                raise ValueError("Option 'symbols' must name at least one symbol")
            params["symbols"] = ",".join(symbols)
            continue
        value = str(value)
        spec.validate(value)
        params[spec.name] = value

    if "start" in params or "end" in params:
        start = parse_iso_datetime(params["start"], "start") if "start" in params else None
        end = parse_iso_datetime(params["end"], "end") if "end" in params else None
        if start is not None and end is not None and start > end:
            raise ValueError(f"start {params['start']!r} is after end {params['end']!r}")
    return config, params


# ---- shared spec fragments (composition replaces the reference's
# ---- super().api_params chains, common.py:290-298) -----------------
SORT_ENUM = ("asc", "desc")
TIMEFRAME_PATTERN = r"^(\d+)([A-Za-z]+?)(s?)$"
ASOF_PATTERN = r"^\d{4}-\d{2}-\d{2}$"


def base_history_specs() -> list[ParamSpec]:
    return [
        ParamSpec("symbols", required=True),
        ParamSpec("start", required=True),
        ParamSpec("end", required=True),
        ParamSpec("limit", pattern=r"^0*[1-9]\d*$"),
        ParamSpec("sort", enum=SORT_ENUM),
    ]
