"""Heartbeat source: synthetic constant series, 1 Hz over the period.

Reference: weather/service/heartbeat.py:45-62 builds a constant
TimeSeries over the read period via create_ts (create_ts.py:13-19,
fixed-interval axis, value=1.0). Used as a liveness canary.

Spark-native: ``sequence(start, end, interval)`` + ``explode`` — the
rows are generated JVM-side, distributed, no driver loop. For very
long periods the explode of one giant array would concentrate in one
task, so the period is pre-split into day chunks with a cross of
(ref × day) before exploding — scale-safe generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_weather_spark.model import SeriesRef, TSINFO_SCHEMA, UtcPeriod
from my_weather_spark.session import local_frame
from my_weather_spark.sources.base import SourceAdapter


def synthetic_series(
    spark: SparkSession,
    series_ids: list[str],
    period: UtcPeriod,
    value: float | None = 1.0,
    dt_seconds: int = 1,
) -> DataFrame:
    """Constant series over the inclusive period at fixed dt.

    Generation is chunked by day so a multi-year heartbeat doesn't
    materialize one monster array per series in a single task.
    """
    ids = local_frame(spark, [(s,) for s in series_ids], "series_id string")
    days = spark.sql(
        "SELECT explode(sequence(to_date(:s), to_date(:e), interval 1 day)) AS day",
        args={"s": period.start.isoformat(), "e": period.end.isoformat()},
    )
    # ONE global grid anchored at period.start (ts = start + k*dt); each
    # day emits its own k-range of that grid. Anchoring per-day at
    # midnight would phase-shift the axis whenever dt doesn't divide
    # 86400, and a day whose window is shorter than one step must emit
    # NOTHING rather than hand sequence() inverted bounds (which throw).
    dt_us = int(dt_seconds) * 1_000_000
    start_us = F.lit(int(period.start_epoch * 1_000_000)).cast("long")
    end_us = F.lit(int(period.end_epoch * 1_000_000)).cast("long")
    day_lo = F.unix_micros(F.col("day").cast("timestamp"))
    day_hi = F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp")) - 1
    lo_off = F.greatest(day_lo, start_us) - start_us   # >= 0
    hi_off = F.least(day_hi, end_us) - start_us
    k_lo = F.floor((lo_off + dt_us - 1) / dt_us).cast("long")  # ceil-div
    k_hi = F.floor(hi_off / dt_us).cast("long")
    pts = (
        ids.crossJoin(days.select("day", k_lo.alias("_ka"), k_hi.alias("_kb")))
        .where(F.col("_ka") <= F.col("_kb"))
        .select(
            "series_id",
            F.explode(F.sequence("_ka", "_kb")).alias("_k"),
        )
        .select(
            "series_id",
            F.timestamp_micros(start_us + F.col("_k") * dt_us).alias("ts"),
        )
        .withColumn("value", F.lit(float(value)).cast("double"))
    )
    return pts


class HeartbeatAdapter(SourceAdapter):
    scheme = "heartbeat"

    def __init__(self, value: float = 1.0, dt_seconds: int = 1) -> None:
        self.value = value
        self.dt_seconds = dt_seconds

    def read(self, spark, refs: list[SeriesRef], period: UtcPeriod) -> DataFrame:
        return synthetic_series(
            spark, [r.url for r in refs], period, self.value, self.dt_seconds
        )

    def find(self, spark, query: SeriesRef) -> DataFrame:
        row = [(query.url, "instant", float(self.dt_seconds), "UTC", None, None, None, None)]
        return local_frame(spark, row, TSINFO_SCHEMA)
