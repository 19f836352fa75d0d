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
        got, _ = ranking._numbered(df, ["g"], ["v", "id"], "grn", "n_group", parts)
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


def test_row_numbering_plans_run_no_python(spark, monkeypatch):
    # numbering is a JVM projection over the pinned sort, and the
    # sliding count's bin prefix sums are a window: no Python worker is
    # started just to count rows — not even inside an eager checkpoint,
    # which the final plan no longer shows
    from my_weather_spark.ops import ranking

    df = spark.createDataFrame([(i % 3, i) for i in range(50)], "g long, id long")

    def no_python(*args, **kwargs):
        raise AssertionError("a Python worker pass was planned")

    for name in ("mapInPandas", "mapInArrow"):
        monkeypatch.setattr(type(df), name, no_python)
    ranked, _ = ranking.global_row_number(df, ["id"], num_partitions=3)
    grouped, _ = ranking._numbered(df, ["g"], ["id"], "grn", "n_group", 3)
    sliding = ranking.sliding_range_count(df, ["g"], ["id"], "id", 10)
    for out in (ranked, grouped, sliding):
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
