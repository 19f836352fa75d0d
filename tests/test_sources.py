"""Source adapter tests: pagination contract, rate limiting, supervision."""

import itertools
import re
import threading
import time
from datetime import datetime, timezone
from types import SimpleNamespace

import pytest

from my_weather_spark.model import SeriesRef, UtcPeriod
from my_weather_spark.pipeline import ScheduledCollector, Service, ServiceManager
from my_weather_spark.sources.file_source import ChunkedFileAdapter
from my_weather_spark.sources.rate_limiter import RateLimiter, rate_limited


def _dt(s):
    return datetime.fromtimestamp(s, tz=timezone.utc)


# ----------------------------------------------------------------------
# Rate limiter (mirrors reference test_rate_limiter.py:11-85 semantics).
class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_rate_limiter_blocks_over_limit():
    clock = FakeClock()
    rl = RateLimiter(action_limit=3, timespan=10, wait_time=1, clock=clock, sleep=clock.sleep)
    for _ in range(3):
        rl.perform_action()
    assert rl.would_block()
    t_before = clock.t
    rl.perform_action()  # must sleep until the first action ages out
    assert clock.t > t_before
    assert rl.count_in_window <= 3


def test_rate_limiter_window_slides():
    clock = FakeClock()
    rl = RateLimiter(action_limit=2, timespan=5, clock=clock, sleep=clock.sleep)
    rl.perform_action()
    clock.t += 6
    assert rl.count_in_window == 0


def test_rate_limited_decorator_stacks():
    clock = FakeClock()
    calls = []

    # stacked decorators like the reference's 45/10s + 450/h pair
    fn = lambda: calls.append(clock.t)
    rl1 = RateLimiter(2, 10, 1, clock=clock, sleep=clock.sleep)
    rl2 = RateLimiter(3, 100, 5, clock=clock, sleep=clock.sleep)
    wrapped = rl2.wrap(rl1.wrap(fn))
    for _ in range(4):
        wrapped()
    assert len(calls) == 4
    assert clock.t > 0  # some waiting happened


# ----------------------------------------------------------------------
# Chunked file source: 1024-point pagination contract (S1/S2).
@pytest.fixture()
def backing(spark, tmp_path):
    path = str(tmp_path / "backing")
    url = "chunked://station/1"
    rows = [(url, _dt(i * 300), float(i)) for i in range(5000)]  # 5000 pts at 5min dt
    spark.createDataFrame(rows, "series_id string, ts timestamp, value double").write.parquet(path)
    return path, url


def test_chunked_pagination_covers_period(spark, backing):
    path, url = backing
    adapter = ChunkedFileAdapter("chunked", path, max_points_per_call=1024, nominal_dt_seconds=300)
    period = UtcPeriod(0, 4999 * 300)
    out = adapter.read(spark, [SeriesRef.parse(url)], period)
    assert out.count() == 5000
    # ceil(5000 / 1024) = 5 block calls
    assert adapter.calls_made == 5


def test_chunked_read_builds_one_relation(spark, backing):
    # Every chunk filters the same parquet relation, read with the
    # declared schema: building a 3-chunk read runs no Spark job (an
    # inferred schema reads the footers, one job per relation).
    path, url = backing
    adapter = ChunkedFileAdapter("chunked", path, max_points_per_call=1024, nominal_dt_seconds=300)
    period = UtcPeriod(0, 3 * 1024 * 300 - 300)
    sc = spark.sparkContext
    sc.setJobGroup("chunked_read_build", "chunked_read_build")
    try:
        out = adapter.read(spark, [SeriesRef.parse(url)], period)
    finally:
        sc.setJobGroup(None, None)
    assert adapter.calls_made == 3
    assert len(sc.statusTracker().getJobIdsForGroup("chunked_read_build")) == 0
    assert out.count() == 3 * 1024


def test_chunked_read_pushes_an_id_predicate_to_parquet(spark, backing):
    # The ids travel as one array literal, which parquet cannot push
    # down; the scan must still push a series_id predicate (not just
    # IsNotNull) so a file laid out by series skips other row groups.
    path, url = backing
    adapter = ChunkedFileAdapter("chunked", path)
    refs = [SeriesRef.parse(url), SeriesRef.parse("chunked://station/2")]
    out = adapter.read(spark, refs, UtcPeriod(0, 3000))
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")  # the plan string abbreviates the list
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed
    for line in pushed:
        assert re.search(r"PushedFilters: \[[^\]]*\w+\(series_id,", line), line
    assert out.count() == 11


def test_chunked_rate_limited(spark, backing):
    path, url = backing
    clock = FakeClock()
    rl = RateLimiter(2, 10, 1, clock=clock, sleep=clock.sleep)
    adapter = ChunkedFileAdapter(
        "chunked", path, max_points_per_call=1024, nominal_dt_seconds=300, rate_limiters=[rl]
    )
    adapter.read(spark, [SeriesRef.parse(url)], UtcPeriod(0, 4999 * 300))
    assert adapter.calls_made == 5
    assert clock.t > 0  # limiter made the pagination wait


def test_chunked_find(spark, backing):
    path, url = backing
    adapter = ChunkedFileAdapter("chunked", path)
    info = adapter.find(spark, SeriesRef.parse(url)).collect()
    assert len(info) == 1
    assert info[0]["name"] == url


def test_chunked_find_no_sibling_overmatch(spark, tmp_path):
    # '/1' must not match '/10' (an unanchored regex substring search
    # would), and regex metachars in the url must not throw
    path = str(tmp_path / "sib")
    rows = [
        ("chunked://station/1", _dt(0), 1.0),
        ("chunked://station/10", _dt(0), 10.0),
        ("chunked://station/1/sub", _dt(0), 2.0),  # subtree of /1
        ("chunked://station+x/3", _dt(0), 3.0),    # '+' is a regex metachar
    ]
    spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    ).write.parquet(path)
    adapter = ChunkedFileAdapter("chunked", path)
    got = {r["name"] for r in adapter.find(spark, SeriesRef.parse("chunked://station/1")).collect()}
    assert got == {"chunked://station/1", "chunked://station/1/sub"}
    got_plus = {r["name"] for r in adapter.find(spark, SeriesRef.parse("chunked://station+x/3")).collect()}
    assert got_plus == {"chunked://station+x/3"}


def test_rate_limiter_thread_safe_under_contention():
    import threading as th
    import time as _time

    rl = RateLimiter(action_limit=5, timespan=30.0, wait_time=0.01)
    stamps = []

    def worker():
        rl.perform_action()
        stamps.append(_time.monotonic())

    threads = [th.Thread(target=worker) for _ in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(5)
    # all 5 admitted (limit not yet reached)...
    assert len(stamps) == 5
    # ...and the window now knows about ALL of them — the old
    # maxlen-bounded deque could evict stamps under concurrent appends
    assert rl.count_in_window == 5
    assert rl.would_block()


# ----------------------------------------------------------------------
# Service supervision (T5) — deterministic tick stepping like the
# reference's sub-second interval tests (test_service_manager.py:40-71).
def test_service_manager_restarts_unhealthy():
    clock = FakeClock()
    mgr = ServiceManager(clock=clock)
    health = itertools.chain([True, False], itertools.repeat(True))
    restarts = []
    svc = Service(
        name="collector",
        task=lambda: None,
        health_check=lambda: next(health),
        restart=lambda: restarts.append(1),
        health_check_interval=10,
    )
    mgr.register(svc)
    clock.t = 10
    assert mgr.tick() == {"collector": True}
    clock.t = 15
    assert mgr.tick() == {}  # not due yet
    clock.t = 20
    assert mgr.tick() == {"collector": False}
    assert len(restarts) == 1 and svc.restarts == 1
    clock.t = 30
    assert mgr.tick() == {"collector": True}
    assert mgr.healthy()


class _FlakyTask:
    """Collection-task stand-in: the first two cycles raise, the third
    blocks until released and then succeeds, later cycles succeed."""

    period_spec = SimpleNamespace(wait_time=0.01)

    def __init__(self):
        self.calls = 0
        self.release = threading.Event()

    def collect(self, now=None):
        self.calls += 1
        if self.calls <= 2:
            raise RuntimeError("source down")
        if self.calls == 3:
            self.release.wait(10)
        return 1


def _wait_until(cond, timeout=10.0):
    deadline = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < deadline, "condition not reached"
        time.sleep(0.005)


def test_scheduled_collector_survives_failures():
    task = _FlakyTask()
    sc = ScheduledCollector(task)
    sc.start()
    try:
        # blocked inside cycle 3: both failures are recorded, the loop
        # is still alive
        _wait_until(lambda: task.calls == 3)
        assert sc.consecutive_failures == 2
        assert isinstance(sc.last_error, RuntimeError)
        assert not sc.healthy(max_consecutive_failures=2)
        assert sc.healthy(max_consecutive_failures=3)
        task.release.set()
        _wait_until(lambda: sc.consecutive_failures == 0)
        assert sc.last_error is None
        assert sc.healthy(max_consecutive_failures=2)
    finally:
        task.release.set()
        sc.stop()
    assert not sc.healthy()  # a stopped loop is not healthy


def test_scheduled_collector_run_n_cycles_sums_counts():
    now = datetime(2024, 1, 1, tzinfo=timezone.utc)
    counts = iter([2, 3, 4])
    seen = []

    def collect(t):
        seen.append(t)
        return next(counts)

    sc = ScheduledCollector(SimpleNamespace(collect=collect))
    assert sc.run_n_cycles(3, now_fn=lambda: now) == 9
    assert seen == [now, now, now]


def test_chunked_pagination_no_boundary_gap(spark, tmp_path):
    # fractional-second point near a chunk boundary must not vanish
    path = str(tmp_path / "frac")
    url = "chunked://frac/1"
    chunk_span = 1024 * 300
    rows = [
        (url, _dt(chunk_span - 0.5), 1.0),   # in the old 1-second gap
        (url, _dt(chunk_span), 2.0),
        (url, _dt(10), 3.0),
    ]
    spark.createDataFrame(rows, "series_id string, ts timestamp, value double").write.parquet(path)
    adapter = ChunkedFileAdapter("chunked", path, max_points_per_call=1024, nominal_dt_seconds=300)
    out = adapter.read(spark, [SeriesRef.parse(url)], UtcPeriod(0, 2 * chunk_span))
    assert out.count() == 3
