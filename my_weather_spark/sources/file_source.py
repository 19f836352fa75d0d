"""Chunked, paginated, rate-limited file source (SURVEY.md §2 S1/S2).

Reproduces the reference's Netatmo source *contract* without the cloud
API: a backend that can only serve ``max_points_per_call`` (1024)
points per request per series (reference: repository.py:103), so reads
over long periods paginate — fetch a block, advance the cursor past
the last returned point, repeat until the period is covered, stitch
chunks (repository.py:150-200). Each call is admission-controlled by
the rate limiter (repository.py:119-120).

Spark-native scale story: pagination is a *source contract*, not a
driver bottleneck — the chunk manifest (ref × chunk-range) is computed
up front from the period and dt, so all blocks can be planned at once;
block reads here are parquet scans with pushed ts predicates, and
chunks union lazily into one DataFrame (no collect).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.model import SeriesRef, TSINFO_SCHEMA, UtcPeriod
from my_weather_spark.session import json_literal
from my_weather_spark.sources.base import SourceAdapter
from my_weather_spark.sources.rate_limiter import RateLimiter


# the backing file's columns, all the adapter reads
BACKING_SCHEMA = "series_id string, ts timestamp, value double"


class ChunkedFileAdapter(SourceAdapter):
    """Serves series from a long-format parquet file, honoring the
    1024-points-per-call contract. ``series_id`` values in the backing
    file are the full urls (``<scheme>://...``)."""

    def __init__(
        self,
        scheme: str,
        path: str,
        max_points_per_call: int = 1024,
        nominal_dt_seconds: int = 300,
        rate_limiters: list[RateLimiter] | None = None,
    ) -> None:
        self.scheme = scheme
        self.path = path
        self.max_points = max_points_per_call
        self.nominal_dt = nominal_dt_seconds
        self.rate_limiters = rate_limiters or []
        self.calls_made = 0  # observability: how many block calls happened

    def _relation(self, spark) -> DataFrame:
        # The declared schema: inferring it reads the parquet footers,
        # one Spark job per read.
        return spark.read.schema(BACKING_SCHEMA).parquet(self.path)

    # -- S1: one rate-limited block ------------------------------------
    def _fetch_block(
        self,
        df: DataFrame,
        wanted: Column,
        lo_epoch: float,
        hi_epoch: float,
        inclusive_end: bool,
    ) -> DataFrame:
        from datetime import datetime, timezone

        for rl in self.rate_limiters:
            rl.perform_action()
        self.calls_made += 1
        lo = datetime.fromtimestamp(lo_epoch, tz=timezone.utc)
        hi = datetime.fromtimestamp(hi_epoch, tz=timezone.utc)
        upper = (F.col("ts") <= F.lit(hi)) if inclusive_end else (F.col("ts") < F.lit(hi))
        return (
            df.where(wanted)
            .where((F.col("ts") >= F.lit(lo)) & upper)
            .select("series_id", "ts", "value")
        )

    # -- S2: paginated scan over a chunk manifest ------------------------
    def read(self, spark, refs: list[SeriesRef], period: UtcPeriod) -> DataFrame:
        # One literal for any number of refs: isin() costs JVM calls per
        # id. array_contains is not pushed down to parquet; the ids'
        # range is, so row groups outside it are still skipped.
        ids = [r.url for r in refs]
        sid = F.col("series_id")
        wanted = sid.between(min(ids), max(ids)) & F.array_contains(
            json_literal(ids, "array<string>"), sid
        )
        span = period.end_epoch - period.start_epoch
        chunk_span = self.max_points * self.nominal_dt
        n_chunks = max(1, math.ceil(span / chunk_span)) if span > 0 else 1
        # one relation for every chunk
        df = self._relation(spark)
        # Chunks are HALF-OPEN [lo, lo+span) except the last, which is
        # inclusive of period.end — no coverage gap between chunks for
        # fractional-second timestamps, no double-read of boundaries.
        chunks: list[DataFrame] = []
        for i in range(n_chunks):
            lo = period.start_epoch + i * chunk_span
            last = i == n_chunks - 1
            hi = period.end_epoch if last else lo + chunk_span
            chunks.append(self._fetch_block(df, wanted, lo, hi, inclusive_end=last))
        out = chunks[0]
        for c in chunks[1:]:
            out = out.unionByName(c)  # U1: chunks disjoint by construction
        return out

    def find(self, spark, query: SeriesRef) -> DataFrame:
        df = self._relation(spark)
        # Literal prefix match, NOT rlike on the raw url: an unescaped
        # unanchored regex overmatches ('.../1' also hits '.../10') and
        # a url containing regex metachars would throw or mis-match.
        prefix = query.url if query.path else f"{self.scheme}://"
        matched = df.where(F.col("series_id").startswith(prefix))
        if query.path:
            # path boundary: exact series or its subtree, never a
            # sibling sharing the name prefix
            matched = df.where(
                (F.col("series_id") == query.url)
                | F.col("series_id").startswith(query.url + "/")
            )
        info = (
            matched
            .groupBy(F.col("series_id").alias("name"))
            .agg(
                F.min("ts").alias("data_period_start"),
                F.max("ts").alias("data_period_end"),
            )
            .withColumn("point_fx", F.lit("instant"))
            .withColumn("delta_t", F.lit(float(self.nominal_dt)))
            .withColumn("olson_tz_id", F.lit("UTC"))
            .withColumn("created", F.lit(None).cast("timestamp"))
            .withColumn("modified", F.lit(None).cast("timestamp"))
        )
        return info.select([f.name for f in TSINFO_SCHEMA.fields])
