"""Structured Streaming tests: collection-into-store (T1/T2),
streaming dedup, the curation stream, the watchdog (T5) and stateful
burst flags (T4)."""

from datetime import datetime, timezone

from my_weather_spark import streaming as st
from my_weather_spark.model import UtcPeriod
from my_weather_spark.store import TsStore


def _dt(s):
    return datetime.fromtimestamp(s, tz=timezone.utc)


def _obs(spark, points, series_id="s1"):
    return spark.createDataFrame(
        [(series_id, _dt(t), float(v), _dt(t)) for t, v in points],
        "series_id string, ts timestamp, value double, ingest_time timestamp",
    )


def test_stream_collect_merges_idempotently(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    store = TsStore(spark, str(tmp_path / "store"))

    # batch 1 lands [0..4], batch 2 re-delivers [3..4] and adds [5..7]
    _obs(spark, [(i, i) for i in range(5)]).write.mode("append").parquet(landing)
    q = st.stream_collect(spark, landing, store, ckpt)
    q.awaitTermination(120)
    _obs(spark, [(i, i) for i in range(3, 8)]).write.mode("append").parquet(landing)
    q = st.stream_collect(spark, landing, store, ckpt)
    q.awaitTermination(120)

    got = store.scan(period=UtcPeriod(0, 100)).orderBy("ts").collect()
    assert [r["value"] for r in got] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0]


def test_dedup_late_stream(spark, tmp_path):
    landing = str(tmp_path / "landing4")
    # epoch-0 timestamps equal the stream's initial watermark and get
    # dropped as late — use modern timestamps
    B = 1_700_000_000
    _obs(spark, [(B + 0, 1), (B + 0, 1), (B + 10, 2)]).write.mode("append").parquet(landing)
    stream = st.stream_observations(spark, landing)
    q = (
        st.dedup_late_stream(stream)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM deduped").collect()[0]["c"] == 2


def test_curated_doc_stream(spark, tmp_path):
    from datetime import datetime, timezone

    landing = str(tmp_path / "doc_landing")
    B = 1_700_000_000

    def _ts(s):
        return datetime.fromtimestamp(B + s, tz=timezone.utc).replace(tzinfo=None)

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (0, good, _ts(0)),
            (1, good, _ts(5)),                     # exact dup within watermark
            (2, "too short", _ts(10)),              # fails min_words
            (3, "a! b! c! d! e! f! g! h! i! j! k!", _ts(15)),  # punct-heavy
            (4, good + " but now different", _ts(20)),
        ],
        "doc_id long, text string, ingest_ts timestamp",
    )
    docs.write.mode("append").parquet(landing)
    stream = spark.readStream.schema(
        "doc_id long, text string, ingest_ts timestamp"
    ).parquet(landing)
    q = (
        st.curated_doc_stream(stream, min_words=5, max_punct_ratio=0.2)
        .writeStream.format("memory")
        .queryName("curated_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM curated_docs").collect()}
    # quality drops 2 and 3; exactly ONE of the duplicate pair {0, 1}
    # survives (survivor choice is processing-order, not id — see
    # curated_doc_stream docstring) plus the unique doc 4.
    assert 4 in got and len(got) == 2 and len(got & {0, 1}) == 1


def test_burst_flags_stateful(spark, tmp_path):
    landing = str(tmp_path / "landing5")
    # 6 events within 10s for s1; 2 sparse events for s2
    pts_s1 = [(i, 1) for i in range(6)]
    pts_s2 = [(0, 1), (100, 1)]
    _obs(spark, pts_s1, "s1").unionByName(_obs(spark, pts_s2, "s2")).write.mode(
        "append"
    ).parquet(landing)
    stream = st.stream_observations(spark, landing)
    q = (
        st.burst_flags(stream, action_limit=4, timespan_seconds=10)
        .writeStream.format("memory")
        .queryName("bursts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["series_id"]: r for r in spark.sql("SELECT * FROM bursts").collect()}
    assert rows["s1"]["over_limit"] is True
    assert rows["s2"]["over_limit"] is False


def test_stream_watchdog_records_progress_and_restarts(spark, tmp_path):
    from my_weather_spark.streaming import StreamWatchdog

    landing = str(tmp_path / "landing6")
    _obs(spark, [(0, 1), (10, 2)]).write.mode("append").parquet(landing)
    wd = StreamWatchdog(spark)
    try:
        starts = []

        def start():
            q = (
                st.stream_observations(spark, landing)
                .writeStream.format("memory")
                .queryName(f"wd_sink_{len(starts)}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            starts.append(q)
            return q

        q = start()
        q.awaitTermination(120)
        # listener callbacks are async; wait briefly
        import time

        for _ in range(50):
            if wd.progress:
                break
            time.sleep(0.2)
        assert wd.started
        assert any(p["numInputRows"] > 0 for p in wd.progress)
        # simulate a NAMED failure record -> restart_failed re-invokes
        # start_fn for that name only; unnamed failures stay recorded
        wd.failures.append({"id": "x", "name": "wd_sink_restart", "exception": "boom"})
        wd.failures.append({"id": "y", "name": None, "exception": "anon"})
        wd.register_restart("wd_sink_restart", start)
        restarted = wd.restart_failed()
        assert restarted == ["wd_sink_restart"]
        assert len(starts) == 2
        starts[-1].awaitTermination(120)
        assert [f["name"] for f in wd.failures] == [None]
    finally:
        wd.close()


def test_streaming_driver_queries_smoke(spark, tmp_path):
    # The two streaming queries() entries must drain, commit, and
    # return stable results when called twice in one session (the
    # bench/driver pattern). Row counts are data-dependent; stability
    # and non-emptiness are the contract.
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    a1 = entry.queries()["stream_ingest_accepted"](spark, sf)
    n1 = a1.count()
    n2 = entry.queries()["stream_ingest_accepted"](spark, sf).count()
    assert n1 == n2 and 0 < n1 <= 500

    c1 = entry.queries()["stream_curated_front"](spark, sf)
    m1 = c1.count()
    m2 = entry.queries()["stream_curated_front"](spark, sf).count()
    assert m1 == m2 and 0 < m1 <= 500
    assert set(c1.columns) == {"content_hash", "n_chars"}
