"""Store + evaluate integration tests.

Mirrors the reference's service-layer goldens (SURVEY.md §5):
* routing fan-out across two mock repos -> first values [1,2,3] in
  input order (test_dtss_host.py:54-61)
* store-merge: [1,2,3] at t0..2 then [4,5,6] at t3..5 -> [1..6]
  (test_dtss_host.py:102-134)
* incremental collection idempotence (test_data_collection_task.py:66-106)
"""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from my_weather_spark.evaluate import TsEngine
from my_weather_spark.model import SeriesRef, UtcPeriod
from my_weather_spark.pipeline import (
    DataCollectionPeriodAbsolute,
    DataCollectionPeriodRelative,
    DataCollectionTask,
)
from my_weather_spark.session import EngineSession
from my_weather_spark.sources.file_source import ChunkedFileAdapter
from my_weather_spark.sources.heartbeat import HeartbeatAdapter
from my_weather_spark.sources.mock import MockAdapter
from my_weather_spark.store import TsStore


def _dt(s):
    return datetime.fromtimestamp(s, tz=timezone.utc)


@pytest.fixture()
def engine(spark, tmp_path):
    sess = EngineSession(spark)
    sess.register_adapter(MockAdapter("mock1", dt_seconds=1))
    sess.register_adapter(MockAdapter("mock2", dt_seconds=1))
    sess.register_adapter(HeartbeatAdapter())
    store = TsStore(spark, str(tmp_path / "ts_store"))
    return TsEngine(sess, store)


def test_routing_fanout_preserves_input_order(engine):
    # golden: FIXTURES.md / reference test_dtss_host.py:54-61
    ids = [
        "mock1://something/1",
        "mock2://something_else/2",
        "mock1://something_strange/3",
    ]
    res = engine.evaluate(ids, UtcPeriod(0, 9))
    rows = res.collect()  # ordered by (query_index, ts)
    firsts = {}
    for r in rows:
        firsts.setdefault(r["query_index"], r["value"])
    assert [firsts[i] for i in range(3)] == [1.0, 2.0, 3.0]
    # every series spans the inclusive period at 1 Hz -> 10 points each
    assert len(rows) == 30


def test_unknown_scheme_raises(engine):
    with pytest.raises(KeyError, match="bogus"):
        engine.evaluate(["bogus://x/1"], UtcPeriod(0, 1))


def test_heartbeat_grid_is_global_and_survives_fractional_start(spark):
    from my_weather_spark.sources.heartbeat import synthetic_series

    # fractional-second start in the last second of a day used to hand
    # sequence() inverted bounds for that day (job-killing); and a dt
    # that doesn't divide 86400 must keep ONE global grid across
    # midnight, not re-anchor per day.
    p = UtcPeriod(86399.5, 86400 + 3600)  # 23:59:59.5 day0 -> 01:00 day1
    pts = sorted(
        synthetic_series(spark, ["h://x/1"], p, value=1.0, dt_seconds=7).collect(),
        key=lambda r: r["ts"],
    )
    epochs = [r["ts"].replace(tzinfo=None).timestamp() - _dt(0).replace(tzinfo=None).timestamp() for r in pts]
    # every point on the global grid start + k*7
    assert all(abs((e - 86399.5) % 7) < 1e-6 for e in epochs)
    # constant cadence across the midnight boundary
    deltas = {round(b - a, 6) for a, b in zip(epochs, epochs[1:])}
    assert deltas == {7.0}
    assert epochs[0] >= 86399.5 and epochs[-1] <= 86400 + 3600


def test_evaluate_dedups_across_store_sources(spark, tmp_path):
    from my_weather_spark.session import EngineSession
    from my_weather_spark.store import TsStore
    from my_weather_spark.evaluate import TsEngine

    sid = "shyft://x/station/mod/temp"
    store = TsStore(spark, str(tmp_path / "xsrc"))
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df, source="a", ingest_time=_dt(100))
    store.store(df, source="b", ingest_time=_dt(200))  # same series, 2nd source
    eng = TsEngine(EngineSession(spark), store)
    out = eng.evaluate([sid], UtcPeriod(0, 10)).collect()
    # one row per (query_index, ts), not one per source
    assert len(out) == 2
    assert [r["value"] for r in out] == [1.0, 2.0]


def test_fresh_store_dedups_intra_batch(spark, tmp_path):
    # The FIRST write into a brand-new store must collapse intra-batch
    # duplicate (series_id, ts) keys exactly like the merge path does —
    # dedup behavior must not depend on whether the store existed.
    from my_weather_spark.store import TsStore

    store = TsStore(spark, str(tmp_path / "fresh"))
    df = spark.createDataFrame(
        [("s1", _dt(0), 1.0), ("s1", _dt(0), 2.0), ("s1", _dt(1), 3.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df, ingest_time=_dt(100))
    rows = sorted(store.scan().collect(), key=lambda r: r["ts"])
    assert len(rows) == 2
    assert rows[0]["value"] == 2.0  # merge_dedup's desc-value tie-break
    assert rows[1]["value"] == 3.0


def test_store_merge_union_of_time_ranges(spark, engine):
    # golden: reference test_dtss_host.py:116-128 ([1,2,3] + [4,5,6] -> [1..6])
    sid = "shyft://netatmo/superstation/livingroom/temperature"
    df1 = spark.createDataFrame(
        [(sid, _dt(t), float(v)) for t, v in [(0, 1), (1, 2), (2, 3)]],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(t), float(v)) for t, v in [(3, 4), (4, 5), (5, 6)]],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 100)).collect()
    assert [r["value"] for r in out] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


def test_store_merge_overwrites_same_ts_with_newest(spark, engine):
    sid = "shyft://netatmo/s/m/t"
    df1 = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(1), 99.0)], "series_id string, ts timestamp, value double"
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 10)).collect()
    assert [r["value"] for r in out] == [1.0, 99.0]


def test_store_overwrite_on_write_replaces_series(spark, engine):
    sid = "shyft://netatmo/s/m/t2"
    df1 = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(1), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    df2 = spark.createDataFrame(
        [(sid, _dt(5), 9.0)], "series_id string, ts timestamp, value double"
    )
    engine.store_ts(df1, ingest_time=_dt(1000))
    engine.store_ts(df2, overwrite_on_write=True, ingest_time=_dt(2000))
    out = engine.evaluate([sid], UtcPeriod(0, 10)).collect()
    assert [r["value"] for r in out] == [9.0]


def test_find_over_store(spark, engine):
    sid = "shyft://netatmo/findme/m/t"
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(9), 2.0)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(1000))
    info = engine.find(sid).collect()
    assert len(info) == 1
    assert info[0]["n_points"] == 2
    # full TsInfo field set (reference repository.py:293-301)
    assert set(info[0].asDict()) == {
        "name", "point_fx", "delta_t", "olson_tz_id",
        "data_period_start", "data_period_end", "created", "modified",
        "n_points",
    }
    assert info[0]["delta_t"] == 9.0  # mode of point spacing
    assert info[0]["created"] == _dt(1000).replace(tzinfo=None)
    assert info[0]["modified"] == _dt(1000).replace(tzinfo=None)
    assert info[0]["point_fx"] is None  # no catalog attached


def test_find_tsinfo_catalog_enrichment(spark, engine):
    # with a measurement catalog attached, store-side TsInfo carries
    # point_fx and the station timezone, like the reference's TsInfo
    sid = "shyft://netatmo/superstation/ute/temperature"
    df = spark.createDataFrame(
        [(sid, _dt(0), 1.0), (sid, _dt(60), 2.0), (sid, _dt(120), 3.0)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(500))
    cat = spark.createDataFrame(
        [(sid, "instant", "Europe/Oslo")],
        "store_id string, point_fx string, timezone string",
    )
    engine.catalog = cat
    info = engine.find(sid).collect()
    assert len(info) == 1
    assert info[0]["point_fx"] == "instant"
    assert info[0]["olson_tz_id"] == "Europe/Oslo"
    assert info[0]["delta_t"] == 60.0


def test_incremental_collection_idempotent(spark, engine):
    # mirror of reference test_data_collection_task.py:66-106:
    # pass 1 over [0, 3600] then pass 2 over [3600, 7200]; endpoints of
    # both passes present; re-ingestion of the overlap point (3600) is
    # deduped, total = 7201 points at 1 Hz inclusive.
    read_ids = ["mock1://station/7"]
    store_ids = ["shyft://collected/station/module/seven"]
    task1 = DataCollectionTask(
        "short", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(0), _dt(3600)),
    )
    task1.collect(now=_dt(5000))
    first = engine.evaluate(store_ids, UtcPeriod(0, 10**6)).collect()
    assert len(first) == 3601
    assert first[0]["ts"].second == 0

    task2 = DataCollectionTask(
        "short2", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(3600), _dt(7200)),
    )
    task2.collect(now=_dt(9000))
    second = engine.evaluate(store_ids, UtcPeriod(0, 10**6)).collect()
    assert len(second) == 7201  # 0..7200 inclusive, overlap deduped
    assert all(r["value"] == 7.0 for r in second[:5])


def test_collection_duplicate_read_ref_feeds_both_store_ids(engine):
    # one read ref listed twice under two store ids: the positional
    # rebind delivers its points to both
    read_ids = ["mock1://station/3", "mock1://station/5", "mock1://station/3"]
    store_ids = ["shyft://dup/a", "shyft://dup/b", "shyft://dup/c"]
    task = DataCollectionTask(
        "dup", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(0), _dt(9)),
    )
    assert task.collect(now=_dt(100)) == 30
    values = {}
    for r in engine.evaluate(store_ids, UtcPeriod(0, 9)).collect():
        values.setdefault(r["series_id"], []).append(r["value"])
    assert values == {
        "shyft://dup/a": [3.0] * 10,
        "shyft://dup/b": [5.0] * 10,
        "shyft://dup/c": [3.0] * 10,
    }


def test_query_path_reads_no_python_rdd(spark, engine, tmp_path, monkeypatch):
    # Small driver-side tables on the query path (evaluate's manifest,
    # the collection rebind, the store's id semi-join, the heartbeat
    # ids, the domain rebind) must be LocalRelations: a Python RDD scan
    # runs a Python-worker job on every query. Checked with Arrow off,
    # the session __spark_entry__ runs in.
    from my_weather_spark.domain import Domain
    from my_weather_spark.model import SeriesRef, create_query_id
    from my_weather_spark.session import python_rdd_scans
    from my_weather_spark.sources.domain_source import DomainAdapter
    from my_weather_spark.sources.file_source import ChunkedFileAdapter
    from tests.test_domain import MOCK_STATIONS

    sid = "shyft://plans/s/m/t"
    engine.store_ts(
        spark.createDataFrame(
            [(sid, _dt(i), float(i)) for i in range(5)],
            "series_id string, ts timestamp, value double",
        ),
        ingest_time=_dt(1000),
    )
    dom = Domain(spark, MOCK_STATIONS)
    backing_path = str(tmp_path / "cloud")
    spark.createDataFrame(
        [(r["store_id"], _dt(0), 1.0) for r in dom.measurements.collect()],
        "series_id string, ts timestamp, value double",
    ).write.parquet(backing_path)
    domain = DomainAdapter("netatmo", dom, ChunkedFileAdapter("shyft", backing_path))
    qid = create_query_id("netatmo", "Superstation", "Livingroom", "Temperature")
    period = UtcPeriod(0, 9)

    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    checkpointed: list[int] = []

    def recording_checkpoint(self, *args, **kwargs):
        checkpointed.append(python_rdd_scans(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        frames = {
            "evaluate store refs": engine.evaluate([sid, sid], period),
            "evaluate adapter refs": engine.evaluate(
                ["mock1://a/1", "heartbeat://h"], period
            ),
            "store scan, 201 ids": engine.store.scan(
                series_ids=[sid] + [f"shyft://plans/none{i}" for i in range(200)],
                period=period,
            ),
            "heartbeat read": HeartbeatAdapter().read(
                spark, [SeriesRef.parse("heartbeat://h")], period
            ),
            "domain read": domain.read(spark, [SeriesRef.parse(qid)], period),
        }
        assert {k: python_rdd_scans(df) for k, df in frames.items()} == dict.fromkeys(
            frames, 0
        )
        DataCollectionTask(
            "plans", engine, ["mock1://a/1"], ["shyft://plans/c"],
            DataCollectionPeriodAbsolute(_dt(0), _dt(9)),
        ).collect(now=_dt(100))
        assert checkpointed and set(checkpointed) == {0}
    finally:
        spark.conf.set(key, prior)


def test_engine_healthy(engine):
    assert engine.healthy()


def test_large_series_vector_semi_join(spark, engine):
    # >200 ids takes the broadcast semi-join path
    sid = "shyft://many/s/m/t"
    df = spark.createDataFrame(
        [(sid, _dt(i), float(i)) for i in range(5)],
        "series_id string, ts timestamp, value double",
    )
    engine.store_ts(df, ingest_time=_dt(1000))
    ids = [sid] + [f"shyft://many/s/m/none{i}" for i in range(300)]
    out = engine.evaluate(ids, UtcPeriod(0, 100))
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["query_index"] == 0 for r in rows)


def test_store_compaction_preserves_data(spark, engine):
    sid = "shyft://compact/s/m/t"
    for batch in range(3):
        df = spark.createDataFrame(
            [(sid, _dt(batch * 10 + i), float(i)) for i in range(10)],
            "series_id string, ts timestamp, value double",
        )
        engine.store_ts(df, ingest_time=_dt(1000 + batch))
    before = engine.evaluate([sid], UtcPeriod(0, 1000)).collect()
    engine.store.compact()
    after = engine.evaluate([sid], UtcPeriod(0, 1000)).collect()
    assert [r["value"] for r in after] == [r["value"] for r in before]
    assert len(after) == 30


def test_store_compaction_zorder_clusters_both_dims(spark, tmp_path):
    from my_weather_spark.store import TsStore

    store = TsStore(spark, str(tmp_path / "zstore"))
    # 8 series x 400 points, one day — enough rows for multiple files
    rows = [
        (f"shyft://z/s{s}", _dt(i * 60), float(s * 1000 + i))
        for s in range(8)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    store.store(df, source="zsrc")
    store.compact(target_records_per_file=400, cluster="zorder")

    out = spark.read.parquet(store.path)
    assert out.count() == 3200  # round-trips

    per_file = (
        out.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.countDistinct("series_id").alias("n_series"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
                "ts_span"
            ),
        )
        .collect()
    )
    assert len(per_file) >= 4
    full_span = 399 * 60
    # z-clustering: every file covers a narrow range of BOTH dims —
    # a linear (series, ts) sort would give files with ts_span == full
    assert all(r["n_series"] <= 4 for r in per_file)
    assert all(r["ts_span"] <= full_span * 0.75 for r in per_file)

    with pytest.raises(ValueError):
        store.compact(cluster="hilbert")


def test_evaluate_duplicate_ids_keep_positions(engine):
    ids = ["mock1://a/1", "mock1://a/1", "mock2://b/2"]
    rows = engine.evaluate(ids, UtcPeriod(0, 4)).collect()
    per_idx = {}
    for r in rows:
        per_idx.setdefault(r["query_index"], []).append(r["value"])
    # both positions of the duplicated id are materialized
    assert len(per_idx[0]) == 5 and len(per_idx[1]) == 5
    assert per_idx[0] == per_idx[1] == [1.0] * 5
    assert per_idx[2] == [2.0] * 5


def test_bucketed_serving_layout_avoids_shuffle(engine, spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # store three series across two days
    rows = [
        (f"shyft://bt/s{i}/m/Temperature", _dt(86400 * d + 60 * j), float(i + j))
        for i in range(3)
        for d in range(2)
        for j in range(5)
    ]
    df = spark.createDataFrame(rows, "series_id string, ts timestamp, value double")
    engine.store_ts(df)
    try:
        bt = engine.store.as_bucketed_table("bt_serving", n_buckets=4)
        # per-series window over the bucketed table: no shuffle planned
        w = W.partitionBy("series_id").orderBy("ts")
        lagged = bt.withColumn("prev", F.lag("value").over(w))
        plan = lagged._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # and values round-trip exactly vs the plain store scan
        got = sorted(
            (r["series_id"], r["ts"], r["value"]) for r in bt.collect()
        )
        want = sorted(
            (r["series_id"], r["ts"], r["value"])
            for r in engine.store.scan().collect()
        )
        assert got == want and len(got) == 30
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_serving")


def test_find_fast_catalog_sidecar(spark, tmp_path):
    store = TsStore(spark, str(tmp_path / "cat_store"))
    sid_a, sid_b = "shyft://s/a/m/t", "shyft://s/b/m/t"
    df1 = spark.createDataFrame(
        [(sid_a, _dt(0), 1.0), (sid_a, _dt(60), 2.0), (sid_b, _dt(30), 5.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df1, source="src1", ingest_time=_dt(1000))
    # second merge batch extends series a both directions
    df2 = spark.createDataFrame(
        [(sid_a, _dt(-60), 0.5), (sid_a, _dt(120), 3.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df2, source="src1", ingest_time=_dt(2000))

    exact = {r["name"]: r for r in store.find().collect()}
    fast = {r["name"]: r for r in store.find(fast=True).collect()}
    assert set(fast) == set(exact) == {sid_a, sid_b}
    # the sidecar answers the reference TsInfo fields without a scan:
    # the touched partition's rows, recomputed from the merged data,
    # carry both extensions and both ingests
    for sid in (sid_a, sid_b):
        for f in ("data_period_start", "data_period_end", "created", "modified"):
            assert fast[sid][f] == exact[sid][f], (sid, f)
    assert fast[sid_a]["created"] == _dt(1000).replace(tzinfo=None)
    assert fast[sid_a]["modified"] == _dt(2000).replace(tzinfo=None)
    # v2 sidecar answers the scan-derived extras too, exactly
    assert fast[sid_a]["n_points"] == exact[sid_a]["n_points"] == 4
    assert fast[sid_a]["delta_t"] == exact[sid_a]["delta_t"]
    assert fast[sid_b]["n_points"] == 1 and fast[sid_b]["delta_t"] is None

    # re-ingesting the same batch is a no-op on the sidecar (idempotent)
    store.store(df2, source="src1", ingest_time=_dt(2000))
    fast2 = {r["name"]: r for r in store.find(fast=True).collect()}
    assert fast2[sid_a].asDict() == fast[sid_a].asDict()

    # whole-series replace resets the replaced series' catalog row and
    # leaves the other series untouched
    df3 = spark.createDataFrame(
        [(sid_a, _dt(500), 9.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df3, source="src1", overwrite_on_write=True, ingest_time=_dt(3000))
    fast3 = {r["name"]: r for r in store.find(fast=True).collect()}
    assert fast3[sid_a]["data_period_start"] == _dt(500).replace(tzinfo=None)
    assert fast3[sid_a]["created"] == _dt(3000).replace(tzinfo=None)
    assert fast3[sid_b].asDict() == fast[sid_b].asDict()

    # pattern/source filters + rebuild-from-data recovery
    assert store.find(pattern="//s/a/", fast=True).count() == 1
    store.rebuild_catalog()
    fast4 = {r["name"]: r for r in store.find(fast=True).collect()}
    assert fast4[sid_a]["data_period_start"] == _dt(500).replace(tzinfo=None)
    # NOTE: rebuild derives created/modified from ingest_time (data),
    # which equals the tracked values in this engine (store() stamps
    # every row) — asserted so the recovery path stays equivalent
    assert fast4[sid_b]["created"] == fast[sid_b]["created"]


def test_find_fast_equals_exact_tsinfo(spark, tmp_path):
    """The v2 sidecar's fast path must return the IDENTICAL TsInfo row
    set as the exact data scan — including n_points and delta_t —
    across date-partition boundaries, under point replacement, and
    after a rebuild; a time-interleaved multi-source series gets its
    delta_t from the pruned exact-scan fallback (exact-equal), or NULL
    with exact_fallback=False (reference-faithful: its metadata find()
    reports NaN there always)."""
    from datetime import timedelta

    store = TsStore(spark, str(tmp_path / "parity_store"))
    day = 86400
    # series m: hourly cadence crossing a date boundary (23:00, 00:00,
    # 01:00, 03:00) -> mode 3600 needs the cross-partition gap
    rows_m = [("m", _dt(day - 3600), 1.0), ("m", _dt(day), 2.0),
              ("m", _dt(day + 3600), 3.0), ("m", _dt(day + 3 * 3600), 4.0)]
    # series s: single point (no spacings -> NULL delta_t both paths)
    rows_s = [("s", _dt(0), 9.0)]
    df1 = spark.createDataFrame(
        rows_m + rows_s, "series_id string, ts timestamp, value double"
    )
    store.store(df1, source="src1", ingest_time=_dt(1000))
    # replace a point of m with a newer ingest (same ts, new value):
    # the replaced row's ingest must leave BOTH paths' created
    df2 = spark.createDataFrame(
        [("m", _dt(day), 2.5)], "series_id string, ts timestamp, value double"
    )
    store.store(df2, source="src1", ingest_time=_dt(2000))

    def rows(fast):
        return {
            r["name"]: {
                k: r[k]
                for k in ("data_period_start", "data_period_end", "created",
                          "modified", "n_points", "delta_t")
            }
            for r in store.find(fast=fast).collect()
        }

    exact, fast = rows(False), rows(True)
    assert fast == exact
    assert fast["m"]["n_points"] == 4 and fast["m"]["delta_t"] == 3600.0
    assert fast["s"]["n_points"] == 1 and fast["s"]["delta_t"] is None

    # rebuild-from-data reproduces the same sidecar answers
    store.rebuild_catalog()
    assert rows(True) == exact

    # interleaved sources: same series, time-overlapping data under a
    # second source -> the sidecar alone can't order the merged ts
    # sequence, so fast delta_t comes from the pruned exact-scan
    # fallback and must EQUAL the exact path (VERDICT r7 item 4);
    # exact_fallback=False keeps the zero-read NULL answer
    df3 = spark.createDataFrame(
        [("m", _dt(day + 1800), 5.0), ("m", _dt(day + 5400), 6.0)],
        "series_id string, ts timestamp, value double",
    )
    store.store(df3, source="src2", ingest_time=_dt(3000))
    exact2, fast2 = rows(False), rows(True)
    assert fast2["m"]["n_points"] == exact2["m"]["n_points"] == 6
    assert exact2["m"]["delta_t"] == 1800.0
    assert fast2["m"]["delta_t"] == 1800.0
    assert fast2 == exact2
    # the untouched single-source series s must NOT pay the fallback
    # (still answered purely from the sidecar histograms)
    assert fast2["s"]["delta_t"] is None and fast2["s"]["n_points"] == 1
    meta = {
        r["name"]: r
        for r in store.find(fast=True, exact_fallback=False).collect()
    }
    assert meta["m"]["delta_t"] is None
    for f in ("data_period_start", "data_period_end", "created",
              "modified", "n_points"):
        assert meta["m"][f] == exact2["m"][f], f


def test_find_fast_caps_irregular_spacing_histogram(spark, tmp_path):
    """An irregular series (every spacing distinct) must not grow the
    sidecar toward data size: above DT_HIST_CAP distinct spacings the
    histogram is dropped, and fast delta_t comes from the pruned
    exact-scan fallback (exact-equal) — or NULL with
    exact_fallback=False, the zero-read metadata answer (the reference
    reports NaN there always). Every other field stays exact."""
    from datetime import timedelta

    store = TsStore(spark, str(tmp_path / "cap_store"))
    n = TsStore.DT_HIST_CAP + 6
    base = _dt(0)
    t, rows = 0, []
    for i in range(n):
        rows.append(("irr", base + timedelta(microseconds=t), float(i)))
        t += (i + 1)  # spacings 1,2,3,... us — all distinct
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double"
    )
    store.store(df, source="src1", ingest_time=_dt(1000))
    exact = store.find().collect()[0]
    fast = store.find(fast=True).collect()[0]
    assert fast["n_points"] == exact["n_points"] == n
    assert exact["delta_t"] == 1e-06  # tie-break toward smallest
    assert fast["delta_t"] == 1e-06  # capped: exact-scan fallback
    meta = store.find(fast=True, exact_fallback=False).collect()[0]
    assert meta["delta_t"] is None  # capped + no fallback: honest NULL
    for f in ("data_period_start", "data_period_end", "created", "modified"):
        assert fast[f] == exact[f], f
    # the sidecar row itself must carry no histogram
    cat = spark.read.schema(store._catalog_schema()).parquet(
        store._catalog_path
    ).collect()[0]
    assert cat["n_spacings"] == n - 1 and cat["dt_hist"] is None


def test_catalog_sidecar_partitioned_by_source(spark, tmp_path):
    """The sidecar is hive-partitioned by source and a merge-mode
    store() rewrites ONLY the touched source's partition — an
    untouched source's sidecar file stays byte-identical on disk
    (the O(touched-source) catalog-maintenance contract)."""
    import hashlib
    from pathlib import Path

    store = TsStore(spark, str(tmp_path / "part_store"))
    df_a = spark.createDataFrame(
        [("s/a", _dt(0), 1.0)], "series_id string, ts timestamp, value double"
    )
    df_b = spark.createDataFrame(
        [("s/b", _dt(0), 2.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df_a, source="src1", ingest_time=_dt(1000))
    store.store(df_b, source="src2", ingest_time=_dt(1000))

    cat_root = Path(store._catalog_path)
    src1_dir = cat_root / "source=src1"
    assert src1_dir.is_dir() and (cat_root / "source=src2").is_dir()

    def digest(d):
        return {
            p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(d.glob("*.parquet"))
        }

    before = digest(src1_dir)
    assert before  # src1 partition holds data files
    # unrelated store() into src2 must not touch src1's files
    df_b2 = spark.createDataFrame(
        [("s/b", _dt(60), 3.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df_b2, source="src2", ingest_time=_dt(2000))
    assert digest(src1_dir) == before
    # and the catalog still answers for both sources
    fast = {r["name"]: r for r in store.find(fast=True).collect()}
    assert fast["s/b"]["modified"] == _dt(2000).replace(tzinfo=None)
    assert fast["s/a"]["created"] == _dt(1000).replace(tzinfo=None)


def test_catalog_fresh_store_discards_stale_sidecar(spark, tmp_path):
    """A store deleted out of band leaves its sidecar behind; the next
    fresh-store write must overwrite it instead of merging ghost
    series into the new store's catalog."""
    import shutil

    root = tmp_path / "ghost_store"
    store = TsStore(spark, str(root))
    df_old = spark.createDataFrame(
        [("ghost", _dt(0), 1.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df_old, source="src1", ingest_time=_dt(1000))
    shutil.rmtree(root)  # out-of-band delete: sidecar survives
    assert store._catalog_exists() and not store._exists()

    df_new = spark.createDataFrame(
        [("real", _dt(0), 2.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df_new, source="src1", ingest_time=_dt(2000))
    names = {r["name"] for r in store.find(fast=True).collect()}
    assert names == {"real"}  # no ghost series


def test_catalog_intra_batch_duplicate_matches_exact(spark, tmp_path):
    """Intra-batch duplicate (series, ts) rows with distinct
    ingest_times: only the merge_dedup survivor lands, and the catalog
    must summarize the SURVIVOR, keeping find(fast) == find(exact)."""
    store = TsStore(spark, str(tmp_path / "dup_store"))
    df = spark.createDataFrame(
        [
            ("s/x", _dt(0), 1.0, _dt(1000)),
            ("s/x", _dt(0), 2.0, _dt(2000)),  # same point, newer ingest wins
        ],
        "series_id string, ts timestamp, value double, ingest_time timestamp",
    )
    store.store(df, source="src1")
    exact = store.find().collect()[0]
    fast = store.find(fast=True).collect()[0]
    assert exact["created"] == _dt(2000).replace(tzinfo=None)
    assert fast["created"] == exact["created"]
    assert fast["modified"] == exact["modified"]


def test_catalog_legacy_flat_layout_migrates(spark, tmp_path):
    """A pre-partitioning sidecar (flat parquet with source as a data
    column) is read correctly and migrated to the partitioned layout on
    the next store()."""
    from pathlib import Path

    store = TsStore(spark, str(tmp_path / "legacy_store"))
    df = spark.createDataFrame(
        [("s/a", _dt(0), 1.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df, source="src1", ingest_time=_dt(1000))
    # rewrite the sidecar in the legacy flat layout
    cat = spark.read.schema(store._catalog_schema()).parquet(store._catalog_path)
    flat = cat.localCheckpoint(eager=True)
    flat.coalesce(1).write.mode("overwrite").parquet(store._catalog_path)
    assert not store._catalog_is_partitioned()

    df2 = spark.createDataFrame(
        [("s/a", _dt(60), 2.0)], "series_id string, ts timestamp, value double"
    )
    store.store(df2, source="src1", ingest_time=_dt(2000))
    assert store._catalog_is_partitioned()
    assert not list(Path(store._catalog_path).glob("*.parquet"))  # flat files gone
    fast = store.find(fast=True).collect()[0]
    assert fast["created"] == _dt(1000).replace(tzinfo=None)
    assert fast["modified"] == _dt(2000).replace(tzinfo=None)


def test_find_fast_is_bound_to_call_time_catalog_snapshot(spark, tmp_path):
    """find(fast, exact_fallback=True) pins the catalog snapshot at
    call time: the needs-scan count, observed by the job that
    checkpoints the answer, decides the plan shape eagerly, so the lazy
    result must read the SAME state — a store() between find() and
    execution must not surface a newly interleaved series with the
    fallback branch already pruned away
    (which would yield NULL delta_t despite the exact-equal
    guarantee). The held DataFrame answers as of find(); a fresh
    find() sees the new state exactly."""
    from datetime import timedelta

    store = TsStore(spark, str(tmp_path / "snap_store"))
    rows = [("m", _dt(i * 3600), float(i)) for i in range(4)]
    store.store(
        spark.createDataFrame(
            rows, "series_id string, ts timestamp, value double"
        ),
        source="src1",
        ingest_time=_dt(1000),
    )
    held = store.find(fast=True)  # snapshot pinned here

    # Interleave the same series under a second source AFTER find():
    # post-write catalog marks 'm' needs_scan, but the held plan was
    # built with needs_scan=False.
    store.store(
        spark.createDataFrame(
            [("m", _dt(1800), 9.0), ("m", _dt(5400), 9.5)],
            "series_id string, ts timestamp, value double",
        ),
        source="src2",
        ingest_time=_dt(2000),
    )

    got = {r["name"]: r for r in held.collect()}
    assert got["m"]["n_points"] == 4          # call-time state
    assert got["m"]["delta_t"] == 3600.0      # not NULL, not post-write

    # A fresh find() reflects the interleaved store and stays
    # exact-equal to the scan path.
    fresh = {r["name"]: r for r in store.find(fast=True).collect()}
    exact = {r["name"]: r for r in store.find(fast=False).collect()}
    assert fresh["m"]["n_points"] == 6
    assert fresh["m"]["delta_t"] == exact["m"]["delta_t"]
    assert fresh["m"]["delta_t"] is not None


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn ran) under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hourly(spark, first_hour, hours, n_series=3, bump=0.0):
    rows = [
        (f"s/{i}", _dt(h * 3600), float(h) + bump)
        for i in range(n_series)
        for h in range(first_hour, first_hour + hours)
    ]
    return spark.createDataFrame(rows, "series_id string, ts timestamp, value double")


def test_merge_store_and_find_fast_job_budget(spark, tmp_path):
    """The micro-batch hot path runs a fixed number of Spark jobs: a
    merge-mode store() is 8 (batch checkpoint 2, merge checkpoint 2,
    data write 1, catalog checkpoint 2, catalog write 1) and
    find(fast=True) plus its collect is 3 (answer checkpoint 2, collect
    1). Touched partitions are pruned by literal filters, the sidecar
    schema is not re-inferred, and the single-source catalog write has
    no exchange."""
    store = TsStore(spark, str(tmp_path / "budget_store"))
    store.store(_hourly(spark, 0, 48), source="src1", ingest_time=_dt(1000))
    store.store(_hourly(spark, 24, 36), source="src1", ingest_time=_dt(2000))
    batch = _hourly(spark, 40, 30, bump=0.5).localCheckpoint(eager=True)
    _, n_store = _jobs(
        spark,
        "budget_merge_store",
        lambda: store.store(batch, source="src1", ingest_time=_dt(3000)),
    )
    rows, n_find = _jobs(
        spark, "budget_find_fast", lambda: store.find(fast=True).collect()
    )
    assert (n_store, n_find) == (8, 3)
    assert {r["name"]: r["n_points"] for r in rows} == {f"s/{i}": 70 for i in range(3)}


def test_merge_store_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """A merge store() touching 2 of a source's 3 dates rewrites only
    those two data partitions and only that source's catalog partition:
    the third date's data files and the other source's catalog file stay
    byte-identical, and find(fast=True) still equals find()."""
    import hashlib
    from pathlib import Path

    root = tmp_path / "prune_store"
    store = TsStore(spark, str(root))
    store.store(_hourly(spark, 0, 72), source="a", ingest_time=_dt(1000))
    store.store(_hourly(spark, 0, 24), source="b", ingest_time=_dt(1000))

    def digest(d):
        return {
            p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).glob("*.parquet"))
        }

    day0 = root / "source=a" / "date=1970-01-01"
    day1 = root / "source=a" / "date=1970-01-02"
    cat_b = Path(store._catalog_path) / "source=b"
    before = {d: digest(d) for d in (day0, day1, cat_b)}
    assert all(before.values())

    # days 1 and 2 of source a: replaced points and new series
    store.store(
        _hourly(spark, 30, 30, n_series=4, bump=0.5),
        source="a",
        ingest_time=_dt(2000),
    )
    assert digest(day0) == before[day0]
    assert digest(cat_b) == before[cat_b]
    assert digest(day1) != before[day1]

    cols = ("data_period_start", "data_period_end", "created", "modified",
            "n_points", "delta_t")

    def rows(fast):
        return {
            r["name"]: tuple(r[c] for c in cols)
            for r in store.find(fast=fast).collect()
        }

    exact = rows(False)
    assert rows(True) == exact
    # s/0: 72 points under a and 24 under b; s/3 is new in the batch
    assert exact["s/0"][4] == 96 and exact["s/3"][4] == 30
    got = {
        (r["series_id"], r["ts"]): r["value"]
        for r in store.scan(["s/0"], source="a").collect()
    }
    assert got[("s/0", _dt(29 * 3600).replace(tzinfo=None))] == 29.0
    assert got[("s/0", _dt(30 * 3600).replace(tzinfo=None))] == 30.5


def test_store_replace_path_reads_its_input_once(spark, tmp_path):
    """overwrite_on_write=True takes the replaced series from the batch
    checkpoint: the caller's frame (a landing-file read, say) is
    evaluated by exactly one job, so each input row passes once."""
    store = TsStore(spark, str(tmp_path / "replace_once"))
    store.store(_hourly(spark, 0, 24), source="src1", ingest_time=_dt(1000))
    seen = spark.sparkContext.accumulator(0)

    def tap(s):
        seen.add(1)
        return s

    batch = _hourly(spark, 48, 5, n_series=2).withColumn(
        "series_id", F.udf(tap, "string")("series_id")
    )
    store.store(batch, source="src1", overwrite_on_write=True, ingest_time=_dt(2000))
    assert seen.value == 10
    got = {r["name"]: r["n_points"] for r in store.find(fast=True).collect()}
    assert got == {"s/0": 5, "s/1": 5, "s/2": 24}


def test_find_fast_delta_t_mode_ties_match_exact(spark, tmp_path):
    """find(fast) folds each series' spacing counts — histograms and
    boundary gaps over several dates — to dt_mode's answer: the most
    frequent spacing, the smallest one on a tie."""
    day = 86400
    # t: spacings 60 x2 and 120 x2 (a tie -> 60), the last 120 across
    # the date boundary; w: 30 x1 and 90 x3, 90 across the boundary
    ts = {
        "t": [day - 240, day - 180, day - 120, day, day + 120],
        "w": [day - 120, day - 90, day, day + 90, day + 180],
    }
    store = TsStore(spark, str(tmp_path / "tie_store"))
    store.store(
        spark.createDataFrame(
            [(s, _dt(t), 1.0) for s, ts_s in ts.items() for t in ts_s],
            "series_id string, ts timestamp, value double",
        ),
        source="src1",
        ingest_time=_dt(1000),
    )
    fast = {r["name"]: r["delta_t"] for r in store.find(fast=True).collect()}
    exact = {r["name"]: r["delta_t"] for r in store.find().collect()}
    assert fast == exact == {"t": 60.0, "w": 90.0}


# -- the collection cycle over a file source -------------------------------------
def _cycle(spark, tmp_path, read_ids, store_ids=None, hours=6):
    """A DataCollectionTask over a ``cloud://`` ChunkedFileAdapter
    serving ``hours`` of 5-minute points per read id, and its store
    holding the first half of them, so the cycle takes the merge path.
    Store ids default to the read ids under ``shyft://``."""
    store_ids = store_ids or [u.replace("cloud", "shyft", 1) for u in read_ids]
    schema = "series_id string, ts timestamp, value double"
    backing = str(tmp_path / "cycle_source")
    steps = range(0, hours * 3600, 300)
    spark.createDataFrame(
        [(u, _dt(t), float(t % 97)) for u in read_ids for t in steps], schema
    ).write.parquet(backing)
    sess = EngineSession(spark)
    sess.register_adapter(ChunkedFileAdapter("cloud", backing))
    engine = TsEngine(sess, TsStore(spark, str(tmp_path / "cycle_store")))
    first_half = steps[: len(steps) // 2]
    engine.store_ts(
        spark.createDataFrame(
            [(s, _dt(t), -1.0) for s in store_ids for t in first_half], schema
        ),
        ingest_time=_dt(0),
    )
    period = DataCollectionPeriodRelative(start_offset=hours * 3600)
    task = DataCollectionTask("cycle", engine, read_ids, store_ids, period)
    return task, _dt(hours * 3600 - 300)


def test_collection_cycle_job_budget(spark, tmp_path):
    """A merge-path collect() over a ChunkedFileAdapter runs 8 Spark
    jobs, all of them store()'s: the batch is materialized once (by the
    store), the source read infers no schema, the rebind and the query
    manifest are literals (no broadcast job) and the store's input is
    not sorted. It ran 13 when collect() checkpointed the rebound batch
    itself ahead of the store's own checkpoint and read evaluate()'s
    globally sorted rows."""
    task, now = _cycle(spark, tmp_path, [f"cloud://st/{i}/t" for i in range(5)])
    n, jobs = _jobs(spark, "cycle_budget", lambda: task.collect(now=now))
    assert (n, jobs) == (5 * 72, 8)


def test_collection_cycle_reads_its_source_once(spark, tmp_path):
    """Every source row passes through the cycle's one job exactly once:
    the store's batch checkpoint is the only materialization."""
    task, now = _cycle(spark, tmp_path, [f"cloud://st/{i}/t" for i in range(3)])
    seen = spark.sparkContext.accumulator(0)

    def tap(v):
        seen.add(1)
        return v

    adapter = task.engine.session.adapter("cloud")
    read = adapter.read
    adapter.read = lambda *a: read(*a).withColumn(
        "value", F.udf(tap, "double")("value")
    )
    assert task.collect(now=now) == 3 * 72
    assert seen.value == 3 * 72


def test_collection_cycle_jvm_calls_do_not_grow_with_refs(spark, tmp_path):
    """Planning a cycle costs a fixed number of py4j round trips, however
    many refs it rebinds: each id list is one JSON literal, not one
    ``lit`` per id (``isin`` and ``F.array`` of literals cost about eight
    calls per id). py4j's garbage-collection notices are not counted;
    they arrive whenever Python frees a JVM handle."""
    import gc

    from pyspark import SparkContext

    ids = [f"cloud://st/{i}/t" for i in range(250)]
    task, now = _cycle(spark, tmp_path, ids, hours=1)
    small = DataCollectionTask(
        "small", task.engine, ids[:5], task.store_ts[:5], task.period_spec
    )
    client = SparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        calls[0] += not command.startswith("m\nd\n")
        return send(command, *args, **kwargs)

    def count(t):
        calls[0] = 0
        gc.collect()
        client.send_command = counting
        try:
            t.collect(now=now)
        finally:
            client.send_command = send
        return calls[0]

    count(small)  # warm: first-use class lookups
    n_small, n_large = count(small), count(task)
    assert n_large - n_small <= 20, (n_small, n_large)


def test_collection_ids_with_quotes_escapes_and_non_ascii_round_trip(spark, tmp_path):
    """Ids travel as JSON literals through the adapter filter, the query
    manifest and the rebind: quotes, backslashes, percent signs and
    non-ASCII characters must come back byte-for-byte."""
    odd = ["it's", 'say "hi"', "back\\slash", "100%", "Ærø ☃ 😀", "tab\there"]
    read_ids = [f"cloud://st/{s}" for s in odd]
    store_ids = [f"shyft://odd/{s}/v" for s in odd]
    task, now = _cycle(spark, tmp_path, read_ids, store_ids, hours=1)
    adapter = task.engine.session.adapter("cloud")
    hour = UtcPeriod(0, 3600)
    got = adapter.read(spark, [SeriesRef.parse(u) for u in read_ids], hour)
    assert {r["series_id"] for r in got.collect()} == set(read_ids)
    refs = read_ids + read_ids[:1]
    positions = {}
    for r in task.engine.evaluate(refs, hour).collect():
        positions.setdefault(r["query_index"], set()).add(r["series_id"])
    assert positions == {i: {u} for i, u in enumerate(refs)}
    assert task.collect(now=now) == len(odd) * 12
    stored = {}
    for r in task.engine.store.scan(series_ids=store_ids).collect():
        stored[r["series_id"]] = stored.get(r["series_id"], 0) + 1
    assert stored == dict.fromkeys(store_ids, 12)


def test_collection_two_refs_bound_to_one_store_id_count_rows_read(engine):
    """collect() returns the rows read, not the points the merge keeps:
    two refs rebound to one store id deliver 2 x 10 rows for 10
    points. store() counts its input likewise, also a provably empty
    one."""
    task = DataCollectionTask(
        "two_to_one",
        engine,
        ["mock1://s/1", "mock1://s/2"],
        ["shyft://one", "shyft://one"],
        DataCollectionPeriodAbsolute(_dt(0), _dt(9)),
    )
    assert task.collect(now=_dt(100)) == 20
    rows = engine.evaluate(["shyft://one"], UtcPeriod(0, 9)).collect()
    assert len(rows) == 10
    empty = engine.spark.range(1).select(
        F.lit("shyft://one").alias("series_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(1.0).alias("value"),
    ).where(F.lit(False))
    assert engine.store_ts(empty, ingest_time=_dt(200)) == 0


def test_cycle_and_evaluate_plans_fold_their_literals(spark, tmp_path, monkeypatch):
    """The id lists are parsed while optimizing (no JsonToStructs is left
    to run per row), and the query manifest is a map lookup, not a
    broadcast join: neither the evaluate plan nor the cycle's batch
    plans a BroadcastHashJoin."""
    ids = [f"cloud://st/{i}/t" for i in range(3)]
    task, now = _cycle(spark, tmp_path, ids, hours=1)
    batches = []
    store = TsStore.store

    def recording(self, df, *args, **kwargs):
        batches.append(df)
        return store(self, df, *args, **kwargs)

    monkeypatch.setattr(TsStore, "store", recording)
    task.collect(now=now)
    frames = {
        "evaluate": task.engine.evaluate(
            ids + task.store_ts + ids[:1], UtcPeriod(0, 3600)
        ),
        "cycle batch": batches[0],
    }
    for name, df in frames.items():
        qe = df._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        assert "JsonToStructs" not in optimized, name
        assert "from_json" not in optimized, name
        assert "BroadcastHashJoin" not in physical, name
        assert "BroadcastExchange" not in physical, name
