"""Collection pipelines + supervision (SURVEY.md §2 T1-T6).

Re-expression of the reference's scheduled ETL:
* ``DataCollectionPeriodRelative`` / ``Absolute`` — window builders
  (reference: weather/data_collection/data_collection_task.py:29-70).
* ``DataCollectionTask`` — read from a source scheme, rebind each
  series to its store id, store with merge semantics
  (data_collection_task.py:86-150).
* ``ServiceManager`` — periodic health-check + restart supervision
  (weather/service/service_manager.py).

The incremental task re-reads a trailing window each cycle (late-data
story, T2); merge-on-write dedup makes re-ingestion idempotent.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import functions as F

from my_weather_spark.model import UtcPeriod
from my_weather_spark.evaluate import TsEngine
from my_weather_spark.session import json_literal


def utcnow() -> datetime:
    return datetime.now(tz=timezone.utc)


# ----------------------------------------------------------------------
# F6 — period builders (reference: data_collection_task.py:29-70).
@dataclass(frozen=True)
class DataCollectionPeriodRelative:
    """Trailing window [now - start_offset, now - end_offset]."""

    start_offset: float
    end_offset: float = 0.0
    wait_time: float = 300.0

    def period(self, now: datetime | None = None) -> UtcPeriod:
        t = (now or utcnow()).timestamp()
        return UtcPeriod(t - self.start_offset, t - self.end_offset)


@dataclass(frozen=True)
class DataCollectionPeriodAbsolute:
    """Fixed [start, end or now] window (one-shot backfill, T3)."""

    start: datetime
    end: datetime | None = None
    wait_time: float = 86400.0

    def period(self, now: datetime | None = None) -> UtcPeriod:
        return UtcPeriod(self.start, self.end or (now or utcnow()))


# ----------------------------------------------------------------------
# T1/T2/T3 — the collection task.
class DataCollectionTask:
    """read source refs -> rebind to store ids -> merge-store.

    ``read_ts``/``store_ts_map`` mirror the reference's parallel lists
    of query ids and store ids (data_collection_task.py:86-126).
    """

    def __init__(
        self,
        name: str,
        engine: TsEngine,
        read_ts: list[str],
        store_ts: list[str],
        period: DataCollectionPeriodRelative | DataCollectionPeriodAbsolute,
        source: str = "default",
    ) -> None:
        if len(read_ts) != len(store_ts):
            raise ValueError("read_ts and store_ts must pair 1:1")
        self.name = name
        self.engine = engine
        self.read_ts = read_ts
        self.store_ts = store_ts
        self.period_spec = period
        self.source = source
        self.runs = 0

    def collect(self, now: datetime | None = None) -> int:
        """One read->store cycle; returns the number of points read,
        which ``store()`` counts as it materializes the batch."""
        period = self.period_spec.period(now)
        # The store reads the rows unordered: no global sort for it.
        result = self.engine.evaluate_unordered(self.read_ts, period)
        # Rebind query ids -> store ids positionally (reference:
        # data_collection_task.py:121-126). query_index is a dense
        # position, so a lookup in one array literal does it with no
        # join and no per-id JVM call.
        store_ids = json_literal(self.store_ts, "array<string>")
        bound = result.select(
            F.element_at(store_ids, F.col("query_index") + 1).alias("series_id"),
            "ts",
            "value",
        )
        # store() materializes its batch once, so the source is read
        # once (a paginated rate-limited fetch would double its calls)
        n = self.engine.store_ts(bound, source=self.source, ingest_time=now)
        self.runs += 1
        return n

    def healthy(self) -> bool:
        return self.engine.healthy()


# ----------------------------------------------------------------------
# T5 — service supervision (reference: service_manager.py:92-214).
@dataclass
class Service:
    name: str
    task: Callable[[], None]
    health_check: Callable[[], bool]
    restart: Callable[[], None] = lambda: None
    health_check_interval: float = 60.0
    last_check: float = field(default=0.0)
    restarts: int = 0


class ServiceManager:
    """Periodic health-check loop with auto-restart on failure.

    Driver-side watchdog — control plane only (SURVEY.md §7 hard-part
    5). ``tick()`` is separated from the thread loop so tests can step
    it deterministically (the reference tests do the same with
    sub-second intervals, test_service_manager.py:40-71).
    """

    def __init__(self, clock: Callable[[], float] = time.monotonic) -> None:
        self.services: dict[str, Service] = {}
        self._clock = clock
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def register(self, service: Service) -> None:
        self.services[service.name] = service

    def tick(self) -> dict[str, bool]:
        """Check due services; restart unhealthy ones. Returns health map."""
        health: dict[str, bool] = {}
        now = self._clock()
        for svc in self.services.values():
            if now - svc.last_check < svc.health_check_interval:
                continue
            svc.last_check = now
            ok = False
            try:
                ok = bool(svc.health_check())
            except Exception:
                ok = False
            if not ok:
                svc.restart()
                svc.restarts += 1
            health[svc.name] = ok
        return health

    # A6: overall health = all services healthy (bool_and analog).
    def healthy(self) -> bool:
        def _safe(svc: Service) -> bool:
            try:
                return bool(svc.health_check())
            except Exception:
                # a raising probe means unhealthy, not a crashed
                # supervisor (same contract as tick())
                return False

        return all(_safe(svc) for svc in self.services.values())

    def start(self, poll_interval: float = 1.0) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, args=(poll_interval,), daemon=True)
        self._thread.start()

    def _loop(self, poll_interval: float) -> None:
        while not self._stop.is_set():
            self.tick()
            self._stop.wait(poll_interval)

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)


# ----------------------------------------------------------------------
# Scheduled runner: the micro-batch loop (reference:
# service_manager.py:39-50 — run task every wait_time seconds).
class ScheduledCollector:
    def __init__(self, task: DataCollectionTask) -> None:
        self.task = task
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.consecutive_failures = 0
        self.last_error: Exception | None = None

    def run_n_cycles(self, n: int, now_fn: Callable[[], datetime] = utcnow) -> int:
        total = 0
        for _ in range(n):
            total += self.task.collect(now_fn())
        return total

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        # A transient source failure must not kill the collection
        # thread permanently (the reference's ServiceManager restarts
        # failed services; a silently-dead daemon thread is invisible
        # to it). Record the failure for healthy() and keep cycling —
        # the next trailing-window re-read covers the gap.
        while not self._stop.is_set():
            try:
                self.task.collect()
                self.consecutive_failures = 0
                self.last_error = None
            except Exception as e:  # noqa: BLE001 — supervision boundary
                self.consecutive_failures += 1
                self.last_error = e
            self._stop.wait(self.task.period_spec.wait_time)

    def healthy(self, max_consecutive_failures: int = 3) -> bool:
        """Liveness + recent-success signal for a supervising
        ServiceManager: False once the loop has failed this many
        cycles in a row (or the thread died)."""
        alive = self._thread is not None and self._thread.is_alive()
        return alive and self.consecutive_failures < max_consecutive_failures

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=10)
