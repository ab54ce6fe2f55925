"""HTTP ingestion source (SURVEY §2.1 S1-S3, §3 entry point 1).

Driver-side TfL Unified API client with the reference's resilience
semantics — retry w/ backoff on 429/5xx, order-preserving stop-id dedup,
per-stop error isolation, bounded fan-out — ending in a Spark
date-partitioned bronze write. HTTP is deliberately OUTSIDE the engine
(a fetch is not a distributed computation; SURVEY §7 "cleanly isolate
driver-side fetch so correctness tests are hermetic"), and the client
takes an injectable ``fetcher`` so tests and offline replays never touch
the network.

Reference behaviors re-expressed (cited for parity):
- retry 3×, backoff 0.5, on 429/500/502/503/504  (tfl_ingest_dag.py:26-31)
- order-preserving stop-id dedup                  (tfl_ingest_dag.py:16-23)
- per-stop failures logged and swallowed          (tfl_ingest_dag.py:63-64)
- non-list payloads warned and skipped            (tfl_ingest_dag.py:59-62)
- zero rows → warn, write nothing                 (tfl_ingest_dag.py:66-68)
- 6-field projection                              (tfl_ingest_dag.py:71-78)
- ThreadPool fan-out, default 8                   (tfl_align.py:140-156)
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from tfl_realtime_lakehouse_spark.schemas import ARRIVALS_RAW_SCHEMA

log = logging.getLogger(__name__)

RETRY_STATUSES = (429, 500, 502, 503, 504)

# fetcher(url, params) -> (status_code, json_payload)
Fetcher = Callable[[str, dict], tuple[int, object]]


def dedup_stop_ids(raw_ids: Iterable[str]) -> list[str]:
    """Normalize + order-preserving dedup of configured stop ids."""
    seen: set[str] = set()
    out: list[str] = []
    for s in raw_ids:
        sid = s.strip()
        if sid and sid not in seen:
            seen.add(sid)
            out.append(sid)
    return out


def _requests_fetcher(timeout: float = 20.0) -> Fetcher:
    """Real-network fetcher; gated behind an import-try so hermetic
    environments never need the dependency."""
    try:
        import requests  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "requests not available — pass an explicit fetcher (offline mode)"
        ) from exc

    session = requests.Session()

    def fetch(url: str, params: dict) -> tuple[int, object]:
        r = session.get(url, params=params, timeout=timeout)
        try:
            return r.status_code, r.json()
        except ValueError:
            return r.status_code, None

    return fetch


@dataclass
class TfLArrivalsClient:
    base_url: str = "https://api.tfl.gov.uk"
    app_id: str | None = None
    app_key: str | None = None
    retries: int = 3
    backoff: float = 0.5
    workers: int = 8
    fetcher: Fetcher = field(default_factory=_requests_fetcher)
    sleep: Callable[[float], None] = time.sleep

    def _get_with_retry(self, url: str) -> object:
        params = {}
        if self.app_id:
            params["app_id"] = self.app_id
        if self.app_key:
            params["app_key"] = self.app_key
        last: Exception | None = None
        for attempt in range(self.retries + 1):
            try:
                status, payload = self.fetcher(url, params)
            except Exception as exc:  # network-level failure
                last = exc
                status, payload = None, None
            else:
                if status is not None and status not in RETRY_STATUSES:
                    return payload
                last = RuntimeError(f"HTTP {status} from {url}")
            if attempt < self.retries:
                self.sleep(self.backoff * (2**attempt))
        raise last if last else RuntimeError(f"fetch failed: {url}")

    def resolve_line_id(self, line: str) -> str:
        """Canonical line id via /Line/{ids} (reference tfl_align.py:93-101)."""
        payload = self._get_with_retry(f"{self.base_url}/Line/{line}")
        if isinstance(payload, list) and payload:
            return payload[0].get("id", line)
        return line

    def get_stoppoints(self, line_id: str) -> list[dict]:
        """Stop metadata dim via /Line/{id}/StopPoints (tfl_align.py:104-109)."""
        payload = self._get_with_retry(f"{self.base_url}/Line/{line_id}/StopPoints")
        return payload if isinstance(payload, list) else []

    def get_arrivals(self, stop_id: str) -> list[dict]:
        payload = self._get_with_retry(f"{self.base_url}/StopPoint/{stop_id}/Arrivals")
        if not isinstance(payload, list):
            log.warning("non-list payload for stop %s — skipping", stop_id)
            return []
        return payload

    def fetch_all(self, stop_ids: Iterable[str]) -> list[dict]:
        """Fan out per stop; a failed stop contributes zero rows and is
        logged, never fatal (per-future error isolation)."""
        stops = dedup_stop_ids(stop_ids)
        rows: list[dict] = []
        with ThreadPoolExecutor(max_workers=self.workers) as pool:
            futures = {pool.submit(self.get_arrivals, s): s for s in stops}
            for fut, stop in futures.items():
                try:
                    rows.extend(fut.result())
                except Exception:
                    log.exception("stop %s failed after retries — skipping", stop)
        return rows


def project_arrival(row: dict) -> dict:
    """The 6-field bronze projection with the stopId coalesce fallback."""
    return {
        "stopId": row.get("naptanId") or row.get("stationName"),
        "lineId": row.get("lineId"),
        "platformName": row.get("platformName"),
        "destinationName": row.get("destinationName"),
        "timeToStation": row.get("timeToStation"),
        "timestamp": row.get("timestamp"),
    }


def ingest_snapshot(
    spark: SparkSession,
    raw_rows: list[dict],
    raw_dir: str,
    now: datetime | None = None,
) -> DataFrame | None:
    """API rows → typed bronze append under ``date=YYYY-MM-DD/``, one
    parquet file per snapshot (the reference's ``arrivals_<ts>.parquet``
    layout, tfl_ingest_dag.py:46-49).

    The projected rows become a ``pyarrow.Table`` of the declared bronze
    schema, which ``createDataFrame`` ships to the JVM as an Arrow local
    relation — no Python worker processes — and the write is one task.

    Returns the written DataFrame, or None when there was nothing to
    write (reference: "no rows fetched; nothing written").
    """
    if not raw_rows:
        log.warning("no rows fetched; nothing written")
        return None
    now = now or datetime.now(timezone.utc)
    table = pa.Table.from_pylist(
        [project_arrival(r) for r in raw_rows],
        schema=to_arrow_schema(ARRIVALS_RAW_SCHEMA),
    )
    df = spark.createDataFrame(table).withColumn(
        "date", F.lit(now.date().isoformat()).cast("date")
    )
    df.coalesce(1).write.mode("append").partitionBy("date").parquet(raw_dir)
    return df
