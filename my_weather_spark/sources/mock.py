"""Mock source: constant series whose value is parsed from the ts_id.

Reference: weather/test/utilities.py:58-74 — MockRepository returns a
constant series with the value taken from the trailing integer of the
url (``mock1://something/1`` -> value 1.0), covering the read period.
Golden routing test: ids mock1://something/1, mock2://something_else/2,
mock1://something_strange/3 -> first values [1, 2, 3] in input order
(test_dtss_host.py:54-61).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_weather_spark.model import SeriesRef, TSINFO_SCHEMA, UtcPeriod
from my_weather_spark.session import local_frame
from my_weather_spark.sources.base import SourceAdapter
from my_weather_spark.sources.heartbeat import synthetic_series


class MockAdapter(SourceAdapter):
    def __init__(self, scheme: str = "mock1", dt_seconds: int = 1) -> None:
        self.scheme = scheme
        self.dt_seconds = dt_seconds

    def read(self, spark, refs: list[SeriesRef], period: UtcPeriod) -> DataFrame:
        base = synthetic_series(
            spark, [r.url for r in refs], period, value=0.0, dt_seconds=self.dt_seconds
        )
        # value = trailing integer of the url path (JVM-side regex).
        return base.withColumn(
            "value",
            F.regexp_extract("series_id", r"/(\d+)$", 1).cast("double"),
        )

    def find(self, spark, query: SeriesRef) -> DataFrame:
        row = [(query.url, "instant", float(self.dt_seconds), "UTC", None, None, None, None)]
        return local_frame(spark, row, TSINFO_SCHEMA)
