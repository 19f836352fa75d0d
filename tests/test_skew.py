"""Skew/bucketing scale-pattern tests."""

from pyspark.sql import functions as F

from my_weather_spark.ops.skew import write_bucketed


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 10000).select(
            (F.col("id") % 500).alias("series_key"), F.col("id").alias("v1")
        )
        right = spark.range(0, 5000).select(
            (F.col("id") % 500).alias("series_key"), F.col("id").alias("v2")
        )
        write_bucketed(left, "bt_left", "series_key", n_buckets=8)
        write_bucketed(right, "bt_right", "series_key", n_buckets=8)
        l = spark.table("bt_left")
        r = spark.table("bt_right")
        joined = l.join(r, "series_key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan  # co-located buckets
        assert joined.count() == 10000 * 10  # each left row meets 10 right rows
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


# ----------------------------------------------------------------------
# Distributed exact global ranking (ops/ranking): must agree bit-for-
# bit with the single-partition window it replaces.
def test_global_row_number_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(7)
    rows = [(i, rng.choice([1.5, 2.5, 3.5, 4.5])) for i in range(997)]
    df = spark.createDataFrame(rows, "id long, v double")
    got, n = ranking.global_row_number(df, ["v", "id"], out_col="rn")
    assert n == 997
    want = df.withColumn("rn", F.row_number().over(W.orderBy("v", "id")))
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    # the distributed plan must not funnel rows into a single-partition
    # sort: range partitioning spreads the checkpointed intermediate.
    parts = (
        df.repartitionByRange(8, F.col("v"), F.col("id"))
        .rdd.glom()
        .map(len)
        .collect()
    )
    assert max(parts) < 997  # no single partition holds everything


def test_ntile_and_percent_rank_exprs_match_window(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    # 47 rows, 10 buckets: 7 big buckets of 5, 3 small of 4 — the
    # uneven split is where hand-rolled ntile math usually breaks.
    df = spark.createDataFrame([(i, float(i % 13)) for i in range(47)], "id long, v double")
    ranked, n = ranking.global_row_number(df, ["v", "id"], out_col="rn")
    got = ranked.select(
        "id",
        ranking.ntile_expr("rn", n, 10).alias("nt"),
        F.round(ranking.percent_rank_expr("rn", n), 9).alias("pr"),
    )
    w = W.orderBy("v", "id")
    want = df.select(
        "id",
        F.ntile(10).over(w).alias("nt"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_global_row_number_edge_cases(spark):
    from my_weather_spark.ops import ranking

    empty = spark.createDataFrame([], "id long, v double")
    got, n = ranking.global_row_number(empty, ["v", "id"])
    assert n == 0 and got.count() == 0
    one = spark.createDataFrame([(1, 9.0)], "id long, v double")
    got, n = ranking.global_row_number(one, ["v", "id"])
    assert n == 1 and got.collect()[0]["rn"] == 1
    # fewer rows than buckets: ntile degenerates to rank
    assert (
        got.select(ranking.ntile_expr("rn", 1, 10).alias("nt")).collect()[0]["nt"] == 1
    )


def test_grouped_prefix_sum_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(11)
    rows = [
        (i, rng.choice(["a", "b", "c"]), rng.randrange(-50, 50))
        for i in range(1201)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    # tiny Arrow batches force the per-partition carry across batch
    # boundaries; few partitions force groups to span partitions.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = ranking.grouped_prefix_sum(
            df, ["g"], ["id"], "v", out_col="cum", num_partitions=4
        ).select("id", "g", "v", "cum")
        w = (
            W.partitionBy("g")
            .orderBy("id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        want = df.withColumn("cum", F.sum("v").over(w)).select("id", "g", "v", "cum")
        assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_prefix_sum_single_group_and_empty(spark):
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    one = spark.createDataFrame(
        [(i, "x", 1) for i in range(10)], "id long, g string, v long"
    )
    got = ranking.grouped_prefix_sum(one, ["g"], ["id"], "v", num_partitions=3)
    vals = {r["id"]: r["cum"] for r in got.collect()}
    assert vals == {i: i + 1 for i in range(10)}
    empty = spark.createDataFrame([], "id long, g string, v long")
    assert ranking.grouped_prefix_sum(empty, ["g"], ["id"], "v").count() == 0


def test_grouped_row_number_and_ntile_col_match_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(11)
    # skewed groups incl. one SMALLER than the tile count (n=2 < k=3)
    rows = [("hot", i, rng.choice([1.5, 2.5, 3.5])) for i in range(61)]
    rows += [("mid", 100 + i, rng.choice([1.5, 2.5])) for i in range(17)]
    rows += [("tiny", 200, 9.0), ("tiny", 201, 8.0)]
    # a NULL group is one window partition: its rows must neither
    # vanish nor shift the other groups' numbers
    null_groups = [
        (None if i % 3 == 0 else f"k{i % 2}", i, float(i % 5)) for i in range(24)
    ]
    w = W.partitionBy("g").orderBy("v", "id")
    for case, parts in ((rows, 7), (null_groups, 3)):
        df = spark.createDataFrame(case, "g string, id long, v double")
        got = ranking.grouped_row_number(df, "g", ["v", "id"], num_partitions=parts)
        sel = got.select(
            "g", "id", "grn", "n_group",
            ranking.ntile_col_expr("grn", "n_group", 3).alias("nt"),
        )
        want = df.select(
            "g", "id",
            F.row_number().over(w).cast("long").alias("grn"),
            F.count(F.lit(1)).over(W.partitionBy("g")).alias("n_group"),
            F.ntile(3).over(w).alias("nt"),
        )
        assert sel.count() == len(case)
        assert sel.subtract(want).count() == 0 and want.subtract(sel).count() == 0


def test_row_numbering_plans_run_no_python(spark):
    # numbering is a JVM projection over the pinned sort: no Python
    # worker is started just to count rows
    from my_weather_spark.ops import ranking

    df = spark.createDataFrame([(i % 3, i) for i in range(50)], "g long, id long")
    ranked, _ = ranking.global_row_number(df, ["id"], num_partitions=3)
    grouped = ranking.grouped_row_number(df, "g", ["id"], num_partitions=3)
    for out in (ranked, grouped):
        assert len(out.collect()) == 50
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "MapInArrow" not in plan, plan


def test_grouped_exact_percentiles(spark):
    import math
    import random

    from my_weather_spark.ops import ranking

    rng = random.Random(23)
    rows = [("a", i, rng.randrange(0, 50)) for i in range(83)]
    rows += [("b", 100 + i, rng.randrange(0, 9)) for i in range(7)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    ps = [10, 50, 90, 99, 100]
    got = {
        (r["g"], r["p"]): r["v"]
        for r in ranking.grouped_exact_percentiles(
            df, "v", ps, "g", "id", num_partitions=5
        ).collect()
    }
    by_g = {}
    for g, i, v in rows:
        by_g.setdefault(g, []).append((v, i))
    want = {}
    for g, vals in by_g.items():
        vals.sort()
        for p in ps:
            want[(g, p)] = vals[math.ceil(p / 100 * len(vals)) - 1][0]
    assert got == want
    import pytest

    with pytest.raises(ValueError):
        ranking.grouped_exact_percentiles(df, "v", [0], "g", "id")
    with pytest.raises(ValueError):
        ranking.grouped_exact_percentiles(df, "v", [50.0], "g", "id")


def test_sliding_range_count_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(5)
    # sparse gaps (empty bins), duplicate seconds, and rows inside the
    # first window-length of the range all exercised
    rows = [
        (i, rng.choice(["a", "b"]), rng.choice([0, 1, 5, 599, 600, 601, 1200, 7000, 7001, rng.randrange(0, 9000)]))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, g string, sec long")
    got = ranking.sliding_range_count(df, ["g"], ["id"], "sec", 600).select(
        "id", "g", "sec", "n_in_window"
    )
    w = W.partitionBy("g").orderBy("sec").rangeBetween(-600, 0)
    want = df.withColumn("n_in_window", F.count(F.lit(1)).over(w)).select(
        "id", "g", "sec", "n_in_window"
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_sliding_range_count_null_groups_match_window(spark):
    # r11 ADVICE repro: the window side treats NULL as an ordinary
    # partition but the cum-table equi-joins never matched it, yielding
    # zero/negative counts. Group keys must join null-safely.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rows = [(1, None, 10), (2, None, 20), (3, None, 700), (4, None, 1400)]
    rows += [(10 + i, "a", s) for i, s in enumerate([5, 300, 650, 1500])]
    df = spark.createDataFrame(rows, "id long, g string, sec long")
    got = ranking.sliding_range_count(df, ["g"], ["id"], "sec", 600).select(
        "id", "g", "sec", "n_in_window"
    )
    w = W.partitionBy("g").orderBy("sec").rangeBetween(-600, 0)
    want = df.withColumn("n_in_window", F.count(F.lit(1)).over(w)).select(
        "id", "g", "sec", "n_in_window"
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_sliding_range_count_group_in_id_cols(spark):
    # r11 ADVICE repro: group_by overlapping id_cols raised
    # COLUMN_ALREADY_EXISTS in the phantom-probe select.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    import random

    rng = random.Random(7)
    rows = [(i, rng.choice(["a", "b"]), rng.randrange(0, 3000)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, sec long")
    got = ranking.sliding_range_count(df, ["g"], ["g", "id"], "sec", 600).select(
        "id", "g", "sec", "n_in_window"
    )
    w = W.partitionBy("g").orderBy("sec").rangeBetween(-600, 0)
    want = df.withColumn("n_in_window", F.count(F.lit(1)).over(w)).select(
        "id", "g", "sec", "n_in_window"
    )
    assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0


def test_grouped_prefix_sum_null_groups_match_window(spark):
    # NULL-group rows must neither vanish (the offsets join is now
    # null-safe) nor lose their cumsum (pandas groupby dropna=False,
    # NaN-aware carry across Arrow batches). NULL *values* are skipped
    # like the window's sum skips them, also when a batch ends on one.
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(3)
    random_groups = [
        (i, rng.choice(["a", "b", None]), rng.randrange(-50, 50))
        for i in range(301)
    ]
    null_values = [(i, "a", v) for i, v in enumerate([5, 7, None, 9, 8, None, 4])]
    cases = [
        # (rows, maxRecordsPerBatch, partitions)
        (random_groups, 16, 4),
        (null_values, 2, 1),
    ]
    w = W.partitionBy("g").orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    for rows, batch, parts in cases:
        df = spark.createDataFrame(rows, "id long, g string, v long")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
        try:
            got = ranking.grouped_prefix_sum(
                df, ["g"], ["id"], "v", out_col="cum", num_partitions=parts
            ).select("id", "g", "v", "cum")
            want = df.withColumn("cum", F.sum("v").over(w)).select("id", "g", "v", "cum")
            assert got.count() == df.count()
            assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_lag_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(13)
    rows = [
        (i, rng.choice(["a", "b", "c"]), rng.randrange(0, 10000))
        for i in range(901)
    ]
    # NULL integer groups: pandas renders them NaN, and NaN != NaN
    null_groups = [(i, None if i % 3 == 0 else i % 2, i) for i in range(24)]
    cases = [
        # (rows, schema, partitions)
        (rows, "id long, g string, v long", 5),
        (null_groups, "id long, g long, v long", 1),
        (null_groups, "id long, g long, v long", 3),
    ]
    w = W.partitionBy("g").orderBy("v", "id")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for case, schema, parts in cases:
            df = spark.createDataFrame(case, schema)
            got = ranking.grouped_lag(
                df, ["g"], ["v", "id"], ["v"], num_partitions=parts
            ).select("id", "g", "v", "v_prev")
            want = df.withColumn("v_prev", F.lag("v").over(w)).select(
                "id", "g", "v", "v_prev"
            )
            assert got.count() == len(case)
            assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_lead_matches_window(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(17)
    rows = [
        (i, rng.choice(["a", "b", "c"]), rng.randrange(0, 10000))
        for i in range(901)
    ]
    # NULL integer groups: pandas renders them NaN, and NaN != NaN
    null_groups = [(i, None if i % 3 == 0 else i % 2, i) for i in range(24)]
    cases = [
        # (rows, schema, partitions)
        (rows, "id long, g string, v long", 5),
        (null_groups, "id long, g long, v long", 1),
        (null_groups, "id long, g long, v long", 3),
    ]
    w = W.partitionBy("g").orderBy("v", "id")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for case, schema, parts in cases:
            df = spark.createDataFrame(case, schema)
            got = ranking.grouped_lead(
                df, ["g"], ["v", "id"], ["v"], num_partitions=parts
            ).select("id", "g", "v", "v_next")
            want = df.withColumn("v_next", F.lead("v").over(w)).select(
                "id", "g", "v", "v_next"
            )
            assert got.count() == len(case)
            assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_resample_time_weighted_distributed_lead_matches_window(spark):
    import random

    from pyspark.sql import functions as F

    from my_weather_spark.ops import timeseries as ts

    rng = random.Random(23)
    # irregular timestamps (segments spanning 0..several buckets),
    # duplicate-free per series, two hot series = the shape where the
    # per-series lead window would serialize
    rows = []
    for s in ("a", "b"):
        t = 0
        for _ in range(800):
            t += rng.choice([1, 30, 3600, 90000])
            rows.append((s, t * 1_000_000, round(rng.uniform(-5, 5), 2)))
    df = spark.createDataFrame(rows, "series_id string, us long, value double").select(
        "series_id", F.timestamp_micros("us").alias("ts"), "value"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        base = ts.resample_time_weighted(df, 21600, exact_value_decimals=2)
        dist = ts.resample_time_weighted(
            df, 21600, exact_value_decimals=2, distributed_lead=True
        )
        assert base.subtract(dist).count() == 0 and dist.subtract(base).count() == 0
        assert base.count() > 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_last_fill_matches_window_both_directions(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(7)
    # struct fill col (the asof/interpolation shape), ~60% missing,
    # groups spanning partitions, carries across tiny Arrow batches
    rows = [
        (
            i,
            rng.choice(["a", "b", "c"]),
            rng.randrange(0, 10000),
            None if rng.random() < 0.6 else {"t": i, "x": float(i)},
        )
        for i in range(901)
    ]
    # NULL integer groups: pandas renders them NaN, and NaN != NaN
    null_groups = [
        (i, None if i % 3 == 0 else i % 2, i,
         None if i % 4 else {"t": i, "x": float(i)})
        for i in range(24)
    ]
    cases = [
        # (rows, group type, partitions)
        (rows, "string", 5),
        (null_groups, "long", 3),
    ]
    w = W.partitionBy("g").orderBy("v", "id").rowsBetween(W.unboundedPreceding, 0)
    w2 = (
        W.partitionBy("g")
        .orderBy(F.desc("v"), F.desc("id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for case, gtype, parts in cases:
            df = spark.createDataFrame(
                case, f"id long, g {gtype}, v long, s struct<t:long,x:double>"
            )
            got = ranking.grouped_last_fill(
                df, ["g"], ["v", "id"], "s", out_col="ff", num_partitions=parts
            )
            want = df.withColumn("ff", F.last("s", ignorenulls=True).over(w))
            assert got.count() == len(case)
            assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0

            got2 = ranking.grouped_last_fill(
                df, ["g"], ["v", "id"], "s", out_col="ff",
                ascending=[False, False], num_partitions=parts,
            )
            want2 = df.withColumn("ff", F.last("s", ignorenulls=True).over(w2))
            assert got2.subtract(want2).count() == 0 and want2.subtract(got2).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_last_fill_all_null_and_empty(spark):
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    schema = "id long, g string, v long, s struct<t:long,x:double>"
    allnull = spark.createDataFrame([(i, "z", i, None) for i in range(20)], schema)
    out = ranking.grouped_last_fill(allnull, ["g"], ["v"], "s", num_partitions=3)
    assert out.where(F.col("s_ff").isNotNull()).count() == 0
    assert out.count() == 20
    empty = spark.createDataFrame([], schema)
    assert ranking.grouped_last_fill(empty, ["g"], ["v"], "s").count() == 0


def test_asof_and_interpolate_distributed_fill_match_window(spark):
    import random

    from pyspark.sql import functions as F

    from my_weather_spark.ops import timeseries as ts

    rng = random.Random(41)
    left_rows, right_rows = [], []
    for s in ("a", "b"):
        for i in range(300):
            left_rows.append((s, rng.randrange(0, 500000) * 1_000_000, float(i)))
            if rng.random() < 0.7:
                right_rows.append((s, rng.randrange(0, 500000) * 1_000_000, float(i) / 2))
    mk = lambda rows: spark.createDataFrame(
        rows, "series_id string, us long, value double"
    ).select("series_id", F.timestamp_micros("us").alias("ts"), "value")
    left, right = mk(left_rows), mk(right_rows)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        base = ts.asof_join(left, right, tolerance_seconds=100000)
        dist = ts.asof_join(left, right, tolerance_seconds=100000, distributed_fill=True)
        assert base.subtract(dist).count() == 0 and dist.subtract(base).count() == 0

        pts = mk(
            [
                (s, t * 1_000_000, round(rng.uniform(-3, 3), 3))
                for s in ("a", "b")
                for t in sorted(rng.sample(range(0, 400000), 400))
            ]
        )
        bi = ts.interpolate_at(pts, grid_dt_seconds=3600)
        di = ts.interpolate_at(pts, grid_dt_seconds=3600, distributed_fill=True)
        assert bi.subtract(di).count() == 0 and di.subtract(bi).count() == 0
        assert bi.count() > 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_interpretation_expand_distributed_lead_matches_window(spark):
    import random

    from pyspark.sql import functions as F

    from my_weather_spark.model import POINT_AVERAGE_VALUE, POINT_INSTANT_VALUE
    from my_weather_spark.ops import timeseries as ts

    rng = random.Random(61)
    rows = []
    for s in ("a", "b", "c"):
        t = 0
        for _ in range(400):
            t += rng.choice([1, 60, 3600])
            rows.append((s, t * 1_000_000, round(rng.uniform(-2, 2), 3)))
    df = spark.createDataFrame(rows, "series_id string, us long, value double").select(
        "series_id", F.timestamp_micros("us").alias("ts"), "value"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        base = ts.interpretation_expand(df, POINT_AVERAGE_VALUE)
        dist = ts.interpretation_expand(df, POINT_AVERAGE_VALUE, distributed_lead=True)
        assert base.subtract(dist).count() == 0 and dist.subtract(base).count() == 0
        # dispatch-by-column arm too
        tagged = df.withColumn(
            "fx",
            F.when(F.col("series_id") == "a", POINT_INSTANT_VALUE).otherwise(
                POINT_AVERAGE_VALUE
            ),
        )
        b2 = ts.interpretation_expand(tagged, point_fx_col="fx")
        d2 = ts.interpretation_expand(tagged, point_fx_col="fx", distributed_lead=True)
        assert b2.subtract(d2).count() == 0 and d2.subtract(b2).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_grouped_bidi_fill_matches_two_windows(spark):
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from my_weather_spark.ops import ranking

    rng = random.Random(11)
    # unique (g, v, id) keys; ~70% missing so null-runs cross the tiny
    # Arrow batches (exercises the backward hold-back/pending path) and
    # partition boundaries (exercises both boundary seed directions)
    rows = [
        (
            i,
            rng.choice(["a", "b", "c", "d"]),
            i,  # strictly increasing order key: ties impossible
            None if rng.random() < 0.7 else {"t": i, "x": float(i)},
        )
        for i in range(903)
    ]
    # NULL integer groups: pandas renders them NaN, and NaN != NaN
    null_groups = [
        (i, None if i % 3 == 0 else i % 2, i,
         None if i % 4 else {"t": i, "x": float(i)})
        for i in range(24)
    ]
    cases = [
        # (rows, group type, partitions)
        (rows, "string", 5),
        (null_groups, "long", 3),
    ]
    wf = W.partitionBy("g").orderBy("v", "id").rowsBetween(
        W.unboundedPreceding, 0
    )
    wb = W.partitionBy("g").orderBy(F.desc("v"), F.desc("id")).rowsBetween(
        W.unboundedPreceding, 0
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        for case, gtype, parts in cases:
            df = spark.createDataFrame(
                case, f"id long, g {gtype}, v long, s struct<t:long,x:double>"
            )
            got = ranking.grouped_bidi_fill(
                df, ["g"], ["v", "id"], "s", "fwd", "bwd", num_partitions=parts
            )
            want = df.withColumn(
                "fwd", F.last("s", ignorenulls=True).over(wf)
            ).withColumn("bwd", F.last("s", ignorenulls=True).over(wb))
            assert got.count() == len(case)
            assert got.subtract(want).count() == 0 and want.subtract(got).count() == 0
        # all-null and empty degenerate cases
        schema = "id long, g string, v long, s struct<t:long,x:double>"
        allnull = spark.createDataFrame(
            [(i, "z", i, None) for i in range(20)], schema
        )
        out = ranking.grouped_bidi_fill(
            allnull, ["g"], ["v"], "s", "fwd", "bwd", num_partitions=3
        )
        assert out.count() == 20
        assert out.where(
            F.col("fwd").isNotNull() | F.col("bwd").isNotNull()
        ).count() == 0
        empty = spark.createDataFrame([], schema)
        assert ranking.grouped_bidi_fill(
            empty, ["g"], ["v"], "s", "fwd", "bwd"
        ).count() == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
