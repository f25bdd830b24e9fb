"""Rate-limited HTTP source with local replay (SURVEY.md §2.A S1-S3).

The reference fetches one symbol per request from the Alpha Vantage REST
API with a 15 s post-fetch sleep (etl.py:48-63) and skips the network
entirely when the day's raw file already exists (etl.py:39-45) or when
``fetch_from_api=False`` (etl.py:64-70). Same behaviors here:

- ``fetch_payloads(..., fetch_from_api=False)`` replays the raw zone —
  the only mode tests use (no network in CI).
- The live path is a driver-side loop for small symbol lists (the
  reference's regime: 3 symbols), honoring the free-tier rate limit.
- ``fetch_distributed`` is the scale path: a DataFrame of symbols fanned
  out via ``mapInPandas`` so each executor runs its own token-bucket —
  only worth it when symbols ≫ cores and the API tier allows it.

``requests`` is imported lazily: the live path raises cleanly if the
library (or network) is unavailable, and nothing else in the engine
depends on it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator, Sequence

API_URL = "https://www.alphavantage.co/query"
RATE_LIMIT_SLEEP_SEC = 15.0  # free tier: 5 req/min (etl.py:62-63, README.md:81)


def _raw_path(lake_dir: str, symbol: str, day: str) -> str:
    # Filename contract {symbol}_{date}.json matches the reference lake
    # (etl.py:39) so existing raw zones replay unchanged.
    return os.path.join(lake_dir, f"{symbol}_{day}.json")


def _persist(path: str, payload: dict) -> str:
    """Write ``payload`` to ``path`` as JSON; return the text written.

    The text goes to a uniquely named tmp file beside ``path`` and is
    renamed over it only once complete, so a write that fails partway
    (or a task killed mid-write) never leaves a torn JSON for the
    cache-first check to trust.
    """
    text = json.dumps(payload, indent=4)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return text


def is_valid_payload(payload: dict) -> bool:
    """True iff the payload is a real TIME_SERIES_DAILY response.

    Alpha Vantage reports throttling/errors as 200-OK bodies like
    ``{"Note": ...}`` or ``{"Error Message": ...}``; the reference rejects
    those via pydantic validation before the file write (etl.py:52-56).
    Caching one would permanently poison the cache-first check, so a
    payload must carry a non-empty 'Time Series (Daily)' dict to be
    persisted.
    """
    series = payload.get("Time Series (Daily)") if isinstance(payload, dict) else None
    return isinstance(series, dict) and len(series) > 0


def fetch_payloads(
    symbols: Sequence[str],
    lake_dir: str,
    day: str,
    api_key: str | None = None,
    fetch_from_api: bool = False,
    sleep_sec: float = RATE_LIMIT_SLEEP_SEC,
) -> list[str]:
    """Ensure each symbol's raw payload exists in the lake; return paths.

    Cache-first (idempotent re-runs are file-cache hits — etl.py:42-45);
    on a live fetch the payload is persisted verbatim before any parsing,
    so the raw zone is always a byte-faithful replay source.
    """
    paths: list[str] = []
    for symbol in symbols:
        path = _raw_path(lake_dir, symbol, day)
        if not os.path.exists(path):
            if not fetch_from_api:
                continue  # replay-only mode: missing file → skip symbol
            payload = _fetch_one(symbol, api_key)
            if not is_valid_payload(payload):
                # Rate-limit note / error body: leave it UNCACHED so the
                # next run retries, and don't report a path for it.
                time.sleep(sleep_sec)
                continue
            _persist(path, payload)
            time.sleep(sleep_sec)
        paths.append(path)
    return paths


def _fetch_one(symbol: str, api_key: str | None) -> dict:
    try:
        import requests  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "live fetch requires the 'requests' library; "
            "use fetch_from_api=False to replay the raw zone"
        ) from exc
    if not api_key:
        raise ValueError("api_key required for live fetches")
    resp = requests.get(
        API_URL,
        params={
            "function": "TIME_SERIES_DAILY",
            "symbol": symbol,
            "apikey": api_key,
        },
        timeout=30,
    )
    resp.raise_for_status()
    return resp.json()


def fetch_distributed(
    symbols_df,
    lake_dir: str,
    day: str,
    api_key: str | None = None,
    sleep_sec: float = RATE_LIMIT_SLEEP_SEC,
    fetch_one=None,
):
    """Executor-side fetching for symbol counts ≫ cores: the reference's
    full per-symbol loop (etl.py:39-63 — cache-first, validate, persist,
    rate-limit) fanned out via ``mapInPandas``.

    Each task runs its own token bucket (sleep AFTER every live request,
    including rejected ones — the request still hit the API), so the
    aggregate rate ≈ partitions / sleep_sec: size the partition count to
    the API tier, not the cluster. Cache hits never sleep, so warm
    re-runs cost no wall-clock — the idempotency that makes retrying a
    half-failed 10k-symbol fan-out cheap. ``lake_dir`` must be shared
    storage every executor can reach (object store / NFS mount), the
    same contract as any file cache; writes go through ``_persist``.

    ``fetch_one``: injectable transport ``(symbol, api_key) -> dict``
    (must be cloudpickle-serializable); defaults to the real HTTPS
    ``_fetch_one``. This is the no-network seam the tests drive.

    Output, one row per input symbol:
      symbol, part (executor partition id — rate-audit key),
      path/payload (NULL when the payload failed validation and was
      dropped uncached, per is_valid_payload),
      fetched (False = served from the lake cache),
      fetched_at (unix seconds of the live request; NULL on cache hit).
    """
    import pandas as pd  # noqa: PLC0415

    from pyspark import TaskContext  # noqa: PLC0415

    transport = fetch_one if fetch_one is not None else _fetch_one
    schema = (
        "symbol string, part int, path string, payload string, "
        "fetched boolean, fetched_at double"
    )

    def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part = TaskContext.get().partitionId()
        for pdf in batches:
            rows = []
            for symbol in pdf["symbol"]:
                path = _raw_path(lake_dir, symbol, day)
                if os.path.exists(path):
                    with open(path) as f:
                        rows.append((symbol, part, path, f.read(), False, None))
                    continue
                fetched_at = time.time()
                payload = transport(symbol, api_key)
                if not is_valid_payload(payload):
                    # throttle note / error body: drop it UNCACHED so the
                    # next run retries, but the request still consumed a
                    # rate-limit token — sleep exactly like a success
                    rows.append((symbol, part, None, None, True, fetched_at))
                    time.sleep(sleep_sec)
                    continue
                text = _persist(path, payload)
                rows.append((symbol, part, path, text, True, fetched_at))
                time.sleep(sleep_sec)
            yield pd.DataFrame(
                rows,
                columns=[
                    "symbol", "part", "path", "payload", "fetched",
                    "fetched_at",
                ],
            )

    return symbols_df.mapInPandas(fetch_batch, schema)
