"""Timeseries-operator golden tests over tiny in-memory frames."""

import math
from datetime import datetime, timezone

from pyspark.sql import functions as F

from my_weather_spark.model import POINT_AVERAGE_VALUE, POINT_INSTANT_VALUE, UtcPeriod
from my_weather_spark.ops import timeseries as ts_ops


def _dt(s):
    return datetime.fromtimestamp(s, tz=timezone.utc)


def _ndt(s):
    # collected timestamps are naive in the UTC session timezone
    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


def _series(spark, points, series_id="s1"):
    return spark.createDataFrame(
        [(series_id, _dt(t), float(v) if v is not None else None) for t, v in points],
        "series_id string, ts timestamp, value double",
    )


def test_period_filter_inclusive(spark):
    df = _series(spark, [(0, 1), (100, 2), (200, 3), (300, 4)])
    got = ts_ops.period_filter(df, UtcPeriod(100, 200)).select("value").collect()
    assert sorted(r[0] for r in got) == [2.0, 3.0]


def test_nan_null_normalization(spark):
    df = _series(spark, [(0, 1), (1, float("nan")), (2, None)])
    vals = ts_ops.nan_to_null(df).select("value").collect()
    assert [r[0] for r in vals].count(None) == 2
    vals2 = ts_ops.null_to_nan(ts_ops.nan_to_null(df)).select("value").collect()
    assert sum(1 for r in vals2 if r[0] is not None and math.isnan(r[0])) == 2


def test_point_delta_and_dt_mode(spark):
    # dts: 10, 10, 20 -> mode 10
    df = _series(spark, [(0, 1), (10, 2), (20, 3), (40, 4)])
    deltas = ts_ops.with_point_delta(df).orderBy("ts").select("dt_seconds").collect()
    assert [r[0] for r in deltas] == [None, 10.0, 10.0, 20.0]
    mode = ts_ops.dt_mode(df).collect()
    assert mode[0]["dt_mode_seconds"] == 10.0


def test_end_extension_appends_mode_dt_point(spark):
    # reference: repository.py:137-140 — last point extended by mode(dt)
    df = _series(spark, [(0, 1), (10, 2), (20, 3)])
    out = ts_ops.end_extension(df).orderBy("ts").collect()
    assert len(out) == 4
    assert out[-1]["ts"] == _ndt(30)
    assert out[-1]["value"] == 3.0


def test_staircase_expansion(spark):
    # reference: visual/utils.py:12-23 — AVERAGE duplicates corner points
    df = _series(spark, [(0, 1), (10, 2), (20, 3)])
    stair = (
        ts_ops.interpretation_expand(df, POINT_AVERAGE_VALUE)
        .orderBy("ts", "value")
        .collect()
    )
    got = [(r["ts"], r["value"]) for r in stair]
    assert got == [
        (_ndt(0), 1.0),
        (_ndt(10), 1.0),
        (_ndt(10), 2.0),
        (_ndt(20), 2.0),
        (_ndt(20), 3.0),
    ]
    instant = ts_ops.interpretation_expand(df, POINT_INSTANT_VALUE).count()
    assert instant == 3


def _mixed_fx_frame(spark):
    # one INSTANT + one AVERAGE series in the SAME frame, point_fx
    # bound per series as the reference's TsInfo does
    rows = [
        ("temp", _dt(0), 1.0, POINT_INSTANT_VALUE),
        ("temp", _dt(10), 2.0, POINT_INSTANT_VALUE),
        ("temp", _dt(20), 3.0, POINT_INSTANT_VALUE),
        ("rain", _dt(0), 5.0, POINT_AVERAGE_VALUE),
        ("rain", _dt(10), 7.0, POINT_AVERAGE_VALUE),
        ("rain", _dt(20), 9.0, POINT_AVERAGE_VALUE),
    ]
    return spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double, point_fx string"
    )


def test_interpretation_expand_mixed_frame(spark):
    out = ts_ops.interpretation_expand(
        _mixed_fx_frame(spark), point_fx_col="point_fx"
    )
    temp = [
        (r["ts"], r["value"])
        for r in out.where("series_id = 'temp'").orderBy("ts", "value").collect()
    ]
    rain = [
        (r["ts"], r["value"])
        for r in out.where("series_id = 'rain'").orderBy("ts", "value").collect()
    ]
    # INSTANT passes through untouched
    assert temp == [(_ndt(0), 1.0), (_ndt(10), 2.0), (_ndt(20), 3.0)]
    # AVERAGE expands to staircase corners in the same single pass
    assert rain == [
        (_ndt(0), 5.0),
        (_ndt(10), 5.0),
        (_ndt(10), 7.0),
        (_ndt(20), 7.0),
        (_ndt(20), 9.0),
    ]


def test_interpretation_expand_unknown_fx_raises(spark):
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    bad = spark.createDataFrame(
        [("s", _dt(0), 1.0, "cubic")],
        "series_id string, ts timestamp, value double, point_fx string",
    )
    with pytest.raises(SparkRuntimeException, match="unknown point interpretation"):
        ts_ops.interpretation_expand(bad, point_fx_col="point_fx").collect()


def test_resample_by_interpretation_dispatch(spark):
    # 20s buckets: temp (INSTANT) gets the point mean, rain (AVERAGE)
    # gets the time-weighted staircase integral — in one call
    out = ts_ops.resample_by_interpretation(
        _mixed_fx_frame(spark), "point_fx", bucket_seconds=20
    ).collect()
    got = {(r["series_id"], r["bucket_us"]): (r["value"], r["covered_us"]) for r in out}
    # temp bucket 0 holds t=0,10 -> mean 1.5; bucket 20 holds t=20 -> 3.0
    assert got[("temp", 0)] == (1.5, None)
    assert got[("temp", 20_000_000)] == (3.0, None)
    # rain staircase: [0,10)=5, [10,20)=7 -> bucket 0 integral = 6.0
    # over 20 covered seconds; the terminal point opens no segment
    assert got[("rain", 0)] == (6.0, 20_000_000)
    assert ("rain", 20_000_000) not in got


def test_rdp_epsilon_scale_invariant(spark):
    # same curve shape at 10x different value scales must reduce to the
    # SAME kept points under the derived (range/10) epsilon — a fixed
    # epsilon would keep everything on one and gut the other
    import math as m

    pts = [(t, m.sin(t / 20.0) + (0.001 if t % 40 else 0.0)) for t in range(0, 2000, 10)]
    small = _series(spark, pts, series_id="small")
    big = _series(spark, [(t, v * 10.0) for t, v in pts], series_id="big")
    out = (
        ts_ops.rdp_downsample(small.unionByName(big))
        .groupBy("series_id")
        .count()
        .collect()
    )
    counts = {r["series_id"]: r["count"] for r in out}
    # not bit-identical (perpendicular distance mixes in the time axis,
    # which does not scale with the values) but within 10%
    assert abs(counts["small"] - counts["big"]) <= 0.1 * counts["small"]
    assert 2 < counts["small"] < len(pts) / 2  # actually reduced


def test_series_stats_skip_null(spark):
    df = _series(spark, [(0, 5), (10, None), (20, 1), (30, 9), (40, 2)])
    row = ts_ops.series_stats(ts_ops.nan_to_null(df)).collect()[0]
    assert row["min_value"] == 1.0
    assert row["max_value"] == 9.0
    assert row["last_value"] == 2.0
    assert row["n_points"] == 4


def test_last_k_points(spark):
    df = _series(spark, [(i, i) for i in range(10)])
    got = ts_ops.last_k_points(df, 3).orderBy("ts").collect()
    assert [r["value"] for r in got] == [7.0, 8.0, 9.0]


def test_sliding_count(spark):
    df = _series(spark, [(0, 1), (5, 1), (9, 1), (30, 1)])
    got = ts_ops.sliding_count(df, 10).orderBy("ts").collect()
    assert [r["n_in_window"] for r in got] == [1, 2, 3, 1]


def test_merge_dedup_keeps_newest_ingest(spark):
    rows = [
        ("s1", _dt(0), 1.0, _dt(100)),
        ("s1", _dt(0), 99.0, _dt(200)),  # newer ingest wins
        ("s1", _dt(10), 2.0, _dt(100)),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double, ingest_time timestamp"
    )
    got = ts_ops.merge_dedup(df).orderBy("ts").collect()
    assert [(r["value"]) for r in got] == [99.0, 2.0]


def test_resample_buckets(spark):
    df = _series(spark, [(0, 1), (30, 3), (60, 5), (90, 7)])
    got = ts_ops.resample(df, "60 seconds", "avg").orderBy("ts").collect()
    assert [r["value"] for r in got] == [2.0, 6.0]


def test_rdp_downsample_keeps_corners(spark):
    # A straight ramp with one spike: RDP must keep the spike.
    pts = [(i, float(i)) for i in range(50)]
    pts[25] = (25, 100.0)
    df = _series(spark, pts)
    got = ts_ops.rdp_downsample(df, epsilon=1.0).orderBy("ts").collect()
    vals = [r["value"] for r in got]
    assert 100.0 in vals
    assert len(vals) < 20  # heavy reduction of collinear points
    assert vals[0] == 0.0 and vals[-1] == 49.0


def test_asof_join(spark):
    left = _series(spark, [(10, 1), (20, 2), (30, 3)], "s1")
    right = _series(spark, [(5, 50), (25, 52)], "s1")
    got = ts_ops.asof_join(left, right).orderBy("ts").collect()
    assert [r["right_value"] for r in got] == [50.0, 50.0, 52.0]
    # with tolerance: right point must be within 10s
    got_tol = ts_ops.asof_join(left, right, tolerance_seconds=10).orderBy("ts").collect()
    assert [r["right_value"] for r in got_tol] == [50.0, None, 52.0]


def test_range_join_matches_naive_nonequi(spark):
    from pyspark.sql import functions as F

    # points every 100 s; intervals of assorted lengths, some spanning
    # many bins, some zero-length, one containing nothing
    pts = _series(spark, [(t, float(t)) for t in range(0, 2000, 100)], "s1").select(
        "series_id", "ts", F.col("value").alias("pval")
    )
    iv = spark.createDataFrame(
        [
            ("s1", 50, 250, 1),     # contains 100, 200
            ("s1", 100, 100, 2),    # zero-length: exactly point 100
            ("s1", 0, 1900, 3),     # spans many 300s bins
            ("s1", 2500, 2600, 4),  # empty
            ("s2", 0, 2000, 5),     # wrong series
        ],
        "series_id string, s long, e long, interval_id long",
    ).select(
        "series_id",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
        "interval_id",
    )
    got = ts_ops.range_join(pts, iv, bin_seconds=300)
    naive = pts.alias("p").join(
        iv.alias("i"),
        (F.col("p.series_id") == F.col("i.series_id"))
        & (F.col("p.ts") >= F.col("i.start_ts"))
        & (F.col("p.ts") <= F.col("i.end_ts")),
    )
    key = lambda r: (r["interval_id"], r["pval"])
    assert sorted(map(key, got.collect())) == sorted(map(key, naive.collect()))
    # exactly-once semantics: a multi-bin interval must not duplicate
    assert got.where(F.col("interval_id") == 3).count() == 20
    # The rewrite must plan as an equi hash join keyed by (series, bin)
    # — the naive form equi-joins on series_id alone, so every point of
    # a user compares against ALL that user's intervals (quadratic per
    # key); the bin key is what bounds the per-task compare set.
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_bin" in plan  # bin participates in the join key


def test_approx_distinct_within_error_of_exact(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in entry.queries()["approx_distinct_users"](spark, sf).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in entry.queries()["distinct_users_per_type"](spark, sf).collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(2, 0.10 * exact[k]), (k, approx[k], exact[k])


def test_range_join_randomized_vs_naive(spark):
    # seeded fuzz: random points/intervals across several series and a
    # bin size that does NOT divide the interval lengths
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1234)
    pts_rows = [
        (f"s{rng.randrange(3)}", rng.randrange(0, 5000))
        for _ in range(300)
    ]
    iv_rows = []
    for i in range(60):
        s = rng.randrange(0, 5000)
        iv_rows.append((f"s{rng.randrange(3)}", s, s + rng.randrange(0, 900), i))
    pts = spark.createDataFrame(pts_rows, "series_id string, sec long").select(
        "series_id", F.timestamp_seconds("sec").alias("ts")
    )
    iv = spark.createDataFrame(
        iv_rows, "series_id string, s long, e long, interval_id long"
    ).select(
        "series_id",
        F.timestamp_seconds("s").alias("start_ts"),
        F.timestamp_seconds("e").alias("end_ts"),
        "interval_id",
    )
    got = ts_ops.range_join(pts, iv, bin_seconds=210)
    naive = pts.alias("p").join(
        iv.alias("i"),
        (F.col("p.series_id") == F.col("i.series_id"))
        & (F.col("p.ts") >= F.col("i.start_ts"))
        & (F.col("p.ts") <= F.col("i.end_ts")),
    )
    key = lambda r: (r["interval_id"], r["series_id"], r["ts"])
    assert sorted(map(key, got.collect())) == sorted(map(key, naive.collect()))


def test_resample_time_weighted_golden(spark):
    # staircase: v=10 over [0, 30), v=0 over [30, 120) ; bucket = 60s
    # bucket 0: (10*30 + 0*30)/60 = 5.0 ; bucket 1: fully 0
    df = _series(spark, [(0, 10), (30, 0), (120, 99)])
    got = {
        r["bucket_us"]: (r["twa_value"], r["covered_us"])
        for r in ts_ops.resample_time_weighted(df, 60).collect()
    }
    assert got[0] == (5.0, 60_000_000)
    assert got[60_000_000] == (0.0, 60_000_000)
    # terminal point (120, 99) opens no segment
    assert 120_000_000 not in got


def test_resample_time_weighted_pre_epoch(spark):
    # Negative epoch-us: `div` truncates toward zero and mis-bins these
    # (bucket -3 vanished, bucket -1 averaged 30.0 — outside the data
    # range). Floor-division must bin exactly like the positive case.
    # staircase: v=10 over [-2.5s, -1.5s), v=20 over [-1.5s, +0.5s)
    df = _series(spark, [(-2.5, 10), (-1.5, 20), (0.5, 99)])
    got = {
        r["bucket_us"]: (r["twa_value"], r["covered_us"])
        for r in ts_ops.resample_time_weighted(df, 1).collect()
    }
    assert got[-3_000_000] == (10.0, 500_000)          # [-3, -2): only v=10's first half
    assert got[-2_000_000] == (15.0, 1_000_000)        # half 10, half 20
    assert got[-1_000_000] == (20.0, 1_000_000)
    assert got[0] == (20.0, 500_000)
    # all reported values inside the data range
    assert all(10.0 <= v <= 20.0 for v, _ in got.values())


def test_resample_time_weighted_exact_decimals_no_overflow(spark):
    # value 150.0 at 6 decimals over a full-day bucket: the value-units
    # x microsecond-overlap product is 1.3e19 > int64 — ANSI mode made
    # this an ARITHMETIC_OVERFLOW crash before the decimal fix.
    DAY = 86_400
    df = _series(spark, [(0, 150.0), (DAY, 150.0), (2 * DAY, 0.0)])
    got = {
        r["bucket_us"]: r["twa_value"]
        for r in ts_ops.resample_time_weighted(
            df, DAY, exact_value_decimals=6
        ).collect()
    }
    assert got[0] == 150.0 and got[DAY * 1_000_000] == 150.0


def test_end_extension_subsecond_cadence(spark):
    # 500ms cadence: whole-second deltas read as 0 and the synthetic
    # point landed ON the last point (duplicate key, no extension).
    df = _series(spark, [(0.0, 1), (0.5, 2), (1.0, 3)])
    got = sorted(ts_ops.end_extension(df).collect(), key=lambda r: r["ts"])
    assert len(got) == 4
    last, synth = got[-2], got[-1]
    assert synth["ts"] > last["ts"]
    assert (synth["ts"] - last["ts"]).total_seconds() == 0.5
    assert synth["value"] == 3.0


def test_resample_time_weighted_vs_point_mean(spark):
    # dense points at v=1 for 10s, then one long v=100 segment of 90s:
    # point-mean is ~1, but the time-weighted average must be ~90.
    pts = [(i, 1.0) for i in range(10)] + [(10, 100.0), (100, 0.0)]
    df = _series(spark, pts)
    tw = ts_ops.resample_time_weighted(df, 100).collect()[0]
    assert abs(tw["twa_value"] - (9 * 1 + 90 * 100 + 1 * 1) / 100) < 1e-6


def test_asof_join_null_right_value(spark):
    # A NULL-valued right point IS the latest right row: its (ts, value)
    # must travel together (value NULL), not mix with an older value.
    left = _series(spark, [(100, 1)], "s1")
    right = _series(spark, [(10, 50), (90, None)], "s1")
    got = ts_ops.asof_join(left, right).collect()
    assert got[0]["right_value"] is None
    # tolerance check validates the LATEST row's ts (90, within 20s)
    got_tol = ts_ops.asof_join(left, right, tolerance_seconds=20).collect()
    assert got_tol[0]["right_value"] is None


def test_merge_dedup_same_batch_tie_deterministic(spark):
    rows = [
        ("s1", _dt(0), 1.0, _dt(100)),
        ("s1", _dt(0), 9.0, _dt(100)),  # same ingest stamp: max value wins
    ]
    df = spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double, ingest_time timestamp"
    )
    assert [r["value"] for r in ts_ops.merge_dedup(df).collect()] == [9.0]


def test_interpolate_at_linear(spark):
    # points (0, 0), (10, 100): grid dt=2 -> lerp 0,20,40,60,80,100
    df = _series(spark, [(0, 0), (10, 100)])
    got = ts_ops.interpolate_at(df, 2).orderBy("ts").collect()
    assert [r["value"] for r in got] == [0.0, 20.0, 40.0, 60.0, 80.0, 100.0]


def test_interpolate_at_on_point_and_bounds(spark):
    # irregular points; grid point exactly on a data point takes it;
    # no extrapolation outside [first, last]
    df = _series(spark, [(3, 30), (6, 60), (12, 0)])
    got = {r["ts"].second: r["value"] for r in ts_ops.interpolate_at(df, 3).collect()}
    assert got == {3: 30.0, 6: 60.0, 9: 30.0, 12: 0.0}


def test_per_series_windows_keep_series_apart(spark):
    # two series interleaved in time: each per-series lead/fill window
    # pairs points only within its own series
    a = _series(spark, [(0, 10), (30, 0), (120, 99)], "a")
    b = _series(spark, [(10, 4), (50, 8), (60, 1)], "b")
    both = a.unionByName(b)
    twa = {
        (r["series_id"], r["bucket_us"]): (r["twa_value"], r["covered_us"])
        for r in ts_ops.resample_time_weighted(both, 60).collect()
    }
    # a: 10 over [0, 30), 0 over [30, 120); b: 4 over [10, 50), 8 over [50, 60)
    assert twa == {
        ("a", 0): (5.0, 60_000_000),
        ("a", 60_000_000): (0.0, 60_000_000),
        ("b", 0): (4.8, 50_000_000),
    }

    right = _series(spark, [(5, 50), (25, 52)], "a").unionByName(
        _series(spark, [(15, 70)], "b")
    )
    left = _series(spark, [(20, 1)], "a").unionByName(
        _series(spark, [(20, 2), (30, 3)], "b")
    )
    key = lambda r: (r["series_id"], r["value"])
    got = sorted(ts_ops.asof_join(left, right).collect(), key=key)
    assert [r["right_value"] for r in got] == [50.0, 70.0, 70.0]
    got_tol = sorted(
        ts_ops.asof_join(left, right, tolerance_seconds=12).collect(), key=key
    )
    assert [r["right_value"] for r in got_tol] == [None, 70.0, None]

    pts = _series(spark, [(0, 0), (10, 100)], "a").unionByName(
        _series(spark, [(5, 50), (15, 0)], "b")
    )
    lerp = {
        (r["series_id"], r["ts"].second): r["value"]
        for r in ts_ops.interpolate_at(pts, 5).collect()
    }
    assert lerp == {
        ("a", 0): 0.0, ("a", 5): 50.0, ("a", 10): 100.0,
        ("b", 5): 50.0, ("b", 10): 25.0, ("b", 15): 0.0,
    }
