"""Loaders for the driver's synthetic star-schema testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

Schema normalization: the driver has shipped timestamp columns in two
parquet physical forms across rounds — TIMESTAMP(NANOS) (Spark reads a
long of epoch-ns under ``spark.sql.legacy.parquet.nanosAsLong=true``)
and TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark >=3.4 infers
TIMESTAMP_NTZ by default). Both are normalized here to a plain
TimestampType (LTZ) whose ``unix_micros`` equals the stored integer,
matching DuckDB's ``epoch_us`` on the same file: ns via integer
``div 1000`` (exact, no float round-trip), NTZ by disabling
``spark.sql.parquet.inferTimestampNTZ.enabled`` so the stored micros
are read as UTC instants. All confs are set defensively at load time
because the driver may run queries in a vanilla session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ensure_reader_conf(spark: SparkSession) -> None:
    """The driver may hand us a session built without our defaults; all
    three confs are dynamically settable, so set them defensively before
    any read that may touch a timestamp column.

    - nanosAsLong: TIMESTAMP(NANOS) columns read as epoch-ns longs
      instead of erroring (converted in :func:`load_table`).
    - inferTimestampNTZ=false: TIMESTAMP(MICROS, isAdjustedToUTC=false)
      reads as plain TimestampType whose unix_micros IS the stored
      value — no NTZ/session-tz reinterpretation, exact agreement with
      DuckDB epoch_us.
    - UTC session tz: any residual wall-clock math (date_trunc, casts)
      is deterministic regardless of the host TZ.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # The swallowed set above is best-effort; the timestamp math below
    # (NTZ casts in load_table, wall-clock date_trunc in every oracle)
    # is only exact under a UTC session. If a locked-down session
    # refused the set, every timestamp would silently shift by the host
    # offset — fail loudly instead.
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        raise RuntimeError(
            f"session timeZone is {tz!r} and could not be set to UTC; "
            "timestamp normalization would be inexact — run with a "
            "session that allows spark.sql.session.timeZone=UTC"
        )


# DataFrames are immutable lazy plans, so the loaded table for a given
# (session, dir, name) can be shared across queries; memoizing skips the
# per-call file listing + footer/schema read (a fixed ~50-100 ms tax on
# every query of a full bench run). Keyed by applicationId so a
# restarted session never sees stale plans.
#
# The memo assumes BENCH DATA IS IMMUTABLE within an application: a
# cached plan pins the file listing taken at first load, so
# regenerating the parquet under sf_dir mid-application would serve
# stale rows (or FileNotFoundException for vacuumed files). If you
# rewrite the data in-session, call :func:`clear_table_cache` first.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_table_cache(sf_dir: str | None = None) -> int:
    """Invalidate memoized table plans (all, or those under ``sf_dir``);
    returns how many entries were dropped."""
    if sf_dir is None:
        n = len(_TABLE_CACHE)
        _TABLE_CACHE.clear()
        return n
    stale = [k for k in _TABLE_CACHE if k[1] == sf_dir]
    for k in stale:
        del _TABLE_CACHE[k]
    return len(stale)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    _ensure_reader_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Normalize nanosecond-timestamp columns read as long (ns).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-braces: if a session read the footer before our conf
    # landed (cached schema), rewrite any NTZ column as a UTC instant
    # (session tz is pinned to UTC above, so the cast is exact).
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str, period=None) -> DataFrame:
    """events with an optional period pushed down to the parquet scan.

    The ts column is stored as TIMESTAMP(NANOS) and read as a long, so
    a filter on the CONVERTED timestamp is a post-scan DataFilter —
    it cannot prune row groups. This helper applies a superset filter
    on the raw long (plain comparisons -> PushedFilters) before the
    conversion; callers still apply the exact inclusive period filter
    on the converted column (ops.timeseries.period_filter).
    """
    _ensure_reader_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if dict(df.dtypes).get("ts") == "bigint":
        if period is not None:
            lo = int(period.start_epoch * 1_000_000) * 1000
            hi = int(period.end_epoch * 1_000_000) * 1000 + 999
            df = df.where((F.col("ts") >= lo) & (F.col("ts") <= hi))
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif period is not None:
        df = df.where(
            (F.col("ts") >= F.lit(period.start)) & (F.col("ts") <= F.lit(period.end))
        )
    return df
