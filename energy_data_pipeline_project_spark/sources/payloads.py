"""Payload sources for bronze ingestion.

A ``PayloadSource`` yields one raw JSON-able dict per (dataset, day) —
the unit the upstream Energy-Charts API serves. Two implementations:

- ``LocalJsonSource`` — hermetic fixtures (dict-backed or a directory
  of ``{dataset}/{date}.json`` files). Default everywhere; tests and
  CI never touch the network.
- ``RestSource`` — the reference's REST semantics
  (/root/reference/src/utils/api_client.py:19-73): GET with params and
  timeout, ``raise_for_status``, market upper-cased for the price
  endpoint. Import of ``requests`` is deferred so hermetic
  environments never need it.

At 100 TB these driver-side loops are the wrong shape. The engine ships
two executor-side fetch paths for that scale:
``pipeline/ingestion.py::ingest_dataset_distributed`` spreads
(dataset, day) fetch tasks over executors with ``mapInPandas``, and
``sources/datasource.py`` is a Python DataSource V2 reader of the same
payloads.
"""

from __future__ import annotations

import json
import os
from typing import Any, Protocol

from ..pipeline.config import DatasetSpec, PipelineConfig


class PayloadSource(Protocol):
    def fetch(self, dataset: DatasetSpec, day: str) -> dict[str, Any] | None:
        """Return the payload dict for one day, or None if unavailable."""
        ...


class LocalJsonSource:
    """Fixture-backed source: payloads[dataset_name][day] -> dict."""

    def __init__(
        self,
        payloads: dict[str, dict[str, dict]] | None = None,
        root_dir: str | None = None,
    ):
        self._payloads = payloads or {}
        self._root = root_dir

    def fetch(self, dataset: DatasetSpec, day: str) -> dict[str, Any] | None:
        # the dict is a CACHE in front of the directory, not an
        # exclusive backend: a day missing from the dict falls through
        # to root_dir (mere key presence must not shadow the directory,
        # recording on-disk fixture days as unavailable; datasource.read
        # falls through the same way)
        if dataset.name in self._payloads:
            hit = self._payloads[dataset.name].get(day)
            if hit is not None:
                return hit
        if self._root:
            path = os.path.join(self._root, dataset.name, f"{day}.json")
            if os.path.exists(path):
                with open(path) as f:
                    return json.load(f)
        return None


def day_request_params(
    key_column: str, key_value: str, params: dict, day: str
) -> dict:
    """The reference's per-day param contract, ONE spelling: the
    market/bidding-zone upper-case quirk (api_client.py:69) plus the
    start/end day bounds. Shared by RestSource and the DSv2 reader,
    so the two cannot drift apart."""
    p = dict(params)
    if key_column == "market":
        p["bzn"] = key_value.upper()
    else:
        p[key_column] = key_value
    p["start"] = day
    p["end"] = day
    return p


def fetch_day_http(
    base_url: str,
    endpoint: str,
    key_column: str,
    key_value: str,
    params: dict,
    day: str,
    *,
    timeout: float,
    retries: int = 0,
    backoff_s: float = 1.0,
    _sleep=None,
) -> dict[str, Any]:
    """One GET with the reference's request semantics and the retry
    ladder: transient failures (connection errors, 5xx, 429) retry
    with linear backoff; other 4xx stay fatal immediately. The single
    spelling both RestSource and sources/datasource.py call — the
    DSv2 reader's own copy had silently dropped the retries, so one
    transient 429 failed a whole day-chunk task and each task retry
    re-fetched every day from the start."""
    import time

    import requests

    p = day_request_params(key_column, key_value, params, day)
    sleep = _sleep or time.sleep
    last_err: Exception | None = None
    for attempt in range(int(retries) + 1):
        if attempt:
            sleep(float(backoff_s) * attempt)
        try:
            resp = requests.get(
                f"{base_url.rstrip('/')}/{endpoint}",
                params=p,
                timeout=timeout,
            )
            resp.raise_for_status()
            return resp.json()
        except requests.exceptions.HTTPError as e:
            status = getattr(e.response, "status_code", None)
            if status is not None and 400 <= status < 500 and status != 429:
                raise  # real client error — retrying can't help
            last_err = e
        except requests.exceptions.RequestException as e:
            last_err = e  # connection/timeout: transient
    assert last_err is not None
    raise last_err


class RestSource:
    """Per-day REST GET against the upstream API.

    ``retries``/``backoff_s`` extend the reference's client (which
    fails a whole backfill on one transient 5xx —
    ``api_client.py:19-33`` has timeout + raise_for_status only):
    transient failures (connection errors, 5xx, 429) are retried with
    linear backoff; 4xx client errors other than 429 stay fatal
    immediately — retrying a 404 day just hammers the API. Defaults
    keep reference behavior (``retries=0``).
    """

    def __init__(
        self,
        config: PipelineConfig,
        retries: int = 0,
        backoff_s: float = 1.0,
        _sleep=None,
    ):
        self._base = config.api_base_url.rstrip("/")
        self._timeout = config.request_timeout_s
        self._retries = int(retries)
        self._backoff = float(backoff_s)
        # injectable for tests; deferred import keeps hermetic envs
        # requests-free
        self._sleep = _sleep

    def fetch(self, dataset: DatasetSpec, day: str) -> dict[str, Any] | None:
        return fetch_day_http(
            self._base,
            dataset.endpoint,
            dataset.key_column,
            dataset.key_value,
            dataset.params,
            day,
            timeout=self._timeout,
            retries=self._retries,
            backoff_s=self._backoff,
            _sleep=self._sleep,
        )
