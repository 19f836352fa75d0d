"""Timeseries operators (SURVEY.md §2: P1/P3, W1-W5, A1-A6, O1-O3, U1/U2).

All operators take and return long-format DataFrames
``(series_id, ts, value, ...)`` and are pure DataFrame transformations
— partition-parallel by ``series_id``, no driver-side loops, no
row-at-a-time Python. The only pandas-UDF op is RDP downsampling (W4),
which is inherently per-series sequential math.

Scale notes (100 TB): every window here partitions by ``series_id``;
with millions of series the shuffle is well-spread. Aggregations are
hash-aggs with map-side partials (Catalyst default). The merge-dedup
uses ``row_number`` over an explicit ingest-time ordering —
deterministic, unlike ``dropDuplicates`` (SURVEY.md §7 hard-part 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from my_weather_spark.model import (
    POINT_AVERAGE_VALUE,
    POINT_INSTANT_VALUE,
    UtcPeriod,
)

SERIES = "series_id"
TS = "ts"
VALUE = "value"


def _series_window(order_col: str = TS) -> W:
    return W.partitionBy(SERIES).orderBy(order_col)


def round6_portable(col: Column) -> Column:
    """Round half-up to 6 decimals as ``floor(x * 1e6 + 0.5) / 1e6`` —
    the same IEEE double ops a SQL oracle's ``floor()`` performs, so
    representation ties land on the same side in every engine.

    Why not ``F.round``: Spark HALF_UPs the double's EXACT decimal
    expansion while DuckDB rounds the scaled double ``x * 1e6`` — the
    two disagree whenever x*1e6 is exactly representable as k + 0.5,
    which is COMMON for rational outputs: avg of 2-decimal values over
    a 32-row bucket = cents * 312.5 (the sf0.1 sweep caught exactly
    that — 43.4728125 rounded to ...812 in Spark, ...813 in DuckDB,
    failing six time-series oracles). Oracles must use the literal
    ``floor(x * 1000000.0 + 0.5) / 1000000.0``. Caveats: input must
    be non-NaN (Spark's floor-to-long maps NaN to 0 where DuckDB
    propagates NaN) and |x| < 2^53 / 1e6.
    """
    return F.floor(col * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)


# ----------------------------------------------------------------------
# P1 — inclusive period filter (reference: repository.py:109,116-117).
# The ONE place the inclusive-[start,end] contract is encoded.
def period_filter(df: DataFrame, period: UtcPeriod, ts_col: str = TS) -> DataFrame:
    return df.where(
        (F.col(ts_col) >= F.lit(period.start)) & (F.col(ts_col) <= F.lit(period.end))
    )


# P3 — null normalization (reference: repository.py:88-91 None->NaN).
# Internal convention is the inverse (SURVEY.md §7 hard-part 3): NaN ->
# NULL inside the engine (Spark aggs skip NULL but propagate NaN);
# surface NaN only at numpy-facing edges.
def nan_to_null(df: DataFrame, value_col: str = VALUE) -> DataFrame:
    c = F.col(value_col)
    return df.withColumn(value_col, F.when(F.isnan(c), F.lit(None)).otherwise(c))


def null_to_nan(df: DataFrame, value_col: str = VALUE) -> DataFrame:
    return df.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(float("nan"))))


# ----------------------------------------------------------------------
# W1 — consecutive-point delta (reference: repository.py:138).
def with_point_delta(df: DataFrame, out_col: str = "dt_seconds") -> DataFrame:
    # microsecond math: unix_timestamp truncates to whole seconds, so a
    # sub-second cadence would read as dt=0 and end_extension would
    # append a duplicate-key row instead of extending
    prev = F.lag(TS).over(_series_window())
    return df.withColumn(
        out_col,
        ((F.unix_micros(TS) - F.unix_micros(prev)) / 1_000_000.0).cast("double"),
    )


# A4 — mode of inter-point deltas per series (reference:
# repository.py:138-139: max(set(dt), key=count)). Ties broken toward
# the SMALLEST dt for determinism (oracle-hash stability).
def dt_mode(df: DataFrame) -> DataFrame:
    deltas = with_point_delta(df).where(F.col("dt_seconds").isNotNull())
    counts = deltas.groupBy(SERIES, "dt_seconds").count()
    w = W.partitionBy(SERIES).orderBy(F.desc("count"), F.asc("dt_seconds"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(SERIES, F.col("dt_seconds").alias("dt_mode_seconds"))
    )


# W2 — end-of-validity extension (reference: repository.py:137-140):
# append one synthetic axis point at t_last + mode(dt) so the last
# value has an end. The synthetic row carries the last value.
def end_extension(df: DataFrame) -> DataFrame:
    w = _series_window()
    last_rows = (
        df.withColumn("_rn", F.row_number().over(W.partitionBy(SERIES).orderBy(F.desc(TS))))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    modes = dt_mode(df)
    synthetic = (
        last_rows.join(modes, SERIES, "inner")
        .withColumn(
            TS,
            F.timestamp_micros(
                (
                    F.unix_micros(TS)
                    + F.round(F.col("dt_mode_seconds") * 1_000_000).cast("long")
                )
            ),
        )
        .drop("dt_mode_seconds")
    )
    return df.unionByName(synthetic)


# W3 — point-interpretation expansion (reference: visual/utils.py:12-23):
# AVERAGE (staircase): each value spans [t_i, t_{i+1}) -> emit both
# corner points (t_i, v), (t_{i+1}, v). INSTANT: points as-is (the
# terminal synthetic axis point, if present, is dropped by rank).
#
# The reference binds point_fx PER SERIES via TsInfo
# (repository.py:293-301, domain.py:110-123), so a single evaluate can
# return a mixed frame (Temperature INSTANT + Rain AVERAGE). Pass
# ``point_fx_col`` (usually joined from the domain measurement catalog)
# to expand such a frame in one pass; pass the ``point_fx`` string when
# the whole frame shares one interpretation.
def interpretation_expand(
    df: DataFrame,
    point_fx: str | None = None,
    *,
    point_fx_col: str | None = None,
) -> DataFrame:
    if (point_fx is None) == (point_fx_col is None):
        raise ValueError("give exactly one of point_fx / point_fx_col")
    with_next = df.withColumn("_next_ts", F.lead(TS).over(_series_window()))

    if point_fx is not None:
        if point_fx == POINT_INSTANT_VALUE:
            return df.select(SERIES, TS, VALUE)
        if point_fx != POINT_AVERAGE_VALUE:
            raise ValueError(f"unknown point interpretation {point_fx!r}")
        pairs = with_next.select(
            SERIES,
            F.explode(
                F.array(
                    F.struct(F.col(TS).alias(TS), F.col(VALUE).alias(VALUE)),
                    F.struct(F.col("_next_ts").alias(TS), F.col(VALUE).alias(VALUE)),
                )
            ).alias("_p"),
        )
        return pairs.select(
            SERIES, F.col("_p.ts").alias(TS), F.col("_p.value").alias(VALUE)
        ).where(F.col(TS).isNotNull())

    # Per-row dispatch: one lead() pass; each row emits 1 point
    # (INSTANT) or its 2 staircase corners (AVERAGE). Unknown
    # interpretations raise at runtime (CaseWhen evaluates raise_error
    # only on rows that fall through both branches).
    fx = F.col(point_fx_col)

    def _pt(t):
        return F.struct(t.alias(TS), F.col(VALUE).alias(VALUE))

    arr = (
        F.when(fx == POINT_INSTANT_VALUE, F.array(_pt(F.col(TS))))
        .when(
            fx == POINT_AVERAGE_VALUE,
            F.array(_pt(F.col(TS)), _pt(F.col("_next_ts"))),
        )
        .otherwise(
            F.raise_error(F.concat(F.lit("unknown point interpretation "), fx))
        )
    )
    pairs = with_next.select(SERIES, fx.alias(point_fx_col), F.explode(arr).alias("_p"))
    return pairs.select(
        SERIES,
        point_fx_col,
        F.col("_p.ts").alias(TS),
        F.col("_p.value").alias(VALUE),
    ).where(F.col(TS).isNotNull())


# ----------------------------------------------------------------------
# A1/A2/A3 — per-series stats over the fetched period (reference:
# dashboard_data.py:84-89 min/max, values[-1] last; np.nanmin/nanmax
# static_plot.py:116-117 — NULLs are skipped by Spark min/max, which
# matches nan-skipping once NaN is normalized to NULL).
def series_stats(df: DataFrame) -> DataFrame:
    return df.groupBy(SERIES).agg(
        F.min(VALUE).alias("min_value"),
        F.max(VALUE).alias("max_value"),
        F.max_by(VALUE, TS).alias("last_value"),
        F.max(TS).alias("last_ts"),
        F.count(VALUE).alias("n_points"),
        F.avg(VALUE).alias("avg_value"),
    )


# O3 — bounded history / top-k most recent per series (reference:
# Bokeh stream(new, 100) dashboard_test.py:81).
def last_k_points(df: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy(SERIES).orderBy(F.desc(TS))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# A5/W5 — sliding-window count: "# actions in the trailing T seconds"
# (reference: rate_limiter.py:39-47 as control-plane deque; this is the
# data-plane twin as a range-bounded window).
def sliding_count(df: DataFrame, timespan_seconds: int, out_col: str = "n_in_window") -> DataFrame:
    # exact trailing window at microsecond resolution (unix_timestamp
    # would truncate to seconds and blur the boundary)
    w = (
        W.partitionBy(SERIES)
        .orderBy(F.unix_micros(TS))
        .rangeBetween(-int(timespan_seconds) * 1_000_000, 0)
    )
    return df.withColumn(out_col, F.count(F.lit(1)).over(w))


# ----------------------------------------------------------------------
# U1 — chunk extend: successive pagination chunks of the same series
# are disjoint in time by construction (reference: repository.py:187-192)
# -> plain unionByName.
def extend_union(*chunks: DataFrame) -> DataFrame:
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c, allowMissingColumns=True)
    return out


# U2/S6 — merge-on-write dedup: union old+new, keep newest ingest per
# (series_id, ts). Deterministic row_number (NOT dropDuplicates) so
# repeated ingestion is idempotent and oracle-hash stable
# (reference semantics proven at test_dtss_host.py:116-128).
def merge_dedup(df: DataFrame, tie_break_cols: list[str] | None = None) -> DataFrame:
    # Ties on ingest_time are the COMMON case (a whole batch shares one
    # stamp), so a value tie-break is always appended — without it the
    # survivor among same-stamp conflicting rows would be partition-
    # order-dependent, breaking idempotence and oracle-hash stability.
    order = (
        [F.desc("ingest_time")]
        + [F.desc(c) for c in (tie_break_cols or [])]
        + [F.desc_nulls_last(VALUE)]
    )
    w = W.partitionBy(SERIES, TS).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ----------------------------------------------------------------------
# Resampling: time-bucketed aggregation honoring point interpretation.
# INSTANT -> avg of points in bucket; AVERAGE -> time-weighted mean of
# the staircase over the bucket would need segment intersection; the
# reference never needs it (its dashboards resample INSTANT series), so
# we provide avg/min/max/last buckets — the Spark-native resample.
def resample(df: DataFrame, bucket: str, agg: str = "avg") -> DataFrame:
    aggs = {
        "avg": F.avg(VALUE),
        "min": F.min(VALUE),
        "max": F.max(VALUE),
        "last": F.max_by(VALUE, TS),
        "sum": F.sum(VALUE),
        "count": F.count(VALUE),
    }
    if agg not in aggs:
        raise ValueError(f"unknown agg {agg!r}")
    return (
        df.groupBy(SERIES, F.window(TS, bucket).alias("_w"))
        .agg(aggs[agg].alias(VALUE))
        .select(SERIES, F.col("_w.start").alias(TS), VALUE)
    )


# Exact floor division for epoch-microsecond bucket math. SQL `div`
# truncates toward ZERO, which mis-bins every pre-1970 (negative)
# timestamp: -1.5s div 1s = -1, but the point belongs to bucket -2.
# pmod returns the non-negative remainder, so subtracting it always
# rounds DOWN; the final division is over an exact multiple (no
# floating-point boundary risk).
def _floor_div_us(col, divisor_us: int):
    d = F.lit(int(divisor_us))
    return ((col - F.pmod(col, d)) / d).cast("long")


# Time-weighted resample for POINT_AVERAGE (staircase) series: value
# v_i holds over [t_i, t_{i+1}); the resampled bucket value is the
# time-integral of the staircase over the bucket divided by covered
# time — NOT the plain mean of points (which over-weights dense spans).
# This is the semantically-correct AVERAGE-interpretation resample the
# simple point-mean `resample` approximates (SURVEY.md §7 hard-part 1).
def resample_time_weighted(
    df: DataFrame,
    bucket_seconds: int,
    exact_value_decimals: int | None = None,
) -> DataFrame:
    """(series_id, bucket_us, twa_value, covered_us).

    Pure DataFrame: segments from lead(), exploded to the buckets they
    overlap (a segment spanning k buckets emits k rows), then one
    groupBy computing sum(v*overlap)/sum(overlap). Integer-microsecond
    arithmetic end to end (engine-portable). The terminal point opens
    no segment — run end_extension first if the last value must count.

    ``exact_value_decimals``: when values have fixed decimal precision,
    sum exact integer units instead of doubles — the v*overlap products
    are large (value x microseconds), so a double sum's rounding error
    is order-dependent; integer sums are reproducible across engines.
    """
    w_us = int(bucket_seconds) * 1_000_000
    pts = df.select(
        SERIES,
        F.unix_micros(F.col(TS)).alias("_t"),
        F.col(VALUE).alias("_v"),
    )
    segs = pts.withColumn(
        "_tn", F.lead("_t").over(W.partitionBy(SERIES).orderBy("_t"))
    ).where(F.col("_tn").isNotNull() & (F.col("_tn") > F.col("_t")))
    exploded = segs.select(
        SERIES,
        "_t",
        "_tn",
        "_v",
        F.explode(
            F.sequence(
                _floor_div_us(F.col("_t"), w_us),
                _floor_div_us(F.col("_tn") - 1, w_us),
            )
        ).alias("_b"),
    )
    overlap = F.least(F.col("_tn"), (F.col("_b") + 1) * w_us) - F.greatest(
        F.col("_t"), F.col("_b") * w_us
    )
    if exact_value_decimals is not None:
        unit = 10 ** exact_value_decimals
        # decimal, not long: value-units x microsecond-overlap products
        # overflow int64 for realistic inputs (150.0 at 6 decimals over
        # a full-day bucket is 1.3e19 > 2^63), which ANSI mode turns
        # into a job-killing ARITHMETIC_OVERFLOW. decimal(20)x
        # decimal(14) sums exactly within decimal(38).
        weighted = (
            F.round(F.col("_v") * unit).cast("decimal(20,0)")
            * F.col("_ov").cast("decimal(14,0)")
        )
        twa = round6_portable(
            F.sum(weighted).cast("double") / float(unit) / F.sum("_ov")
        )
    else:
        twa = round6_portable(F.sum(F.col("_v") * F.col("_ov")) / F.sum("_ov"))
    return (
        exploded.withColumn("_ov", overlap)
        .groupBy(SERIES, (F.col("_b") * w_us).alias("bucket_us"))
        .agg(
            twa.alias("twa_value"),
            F.sum("_ov").cast("long").alias("covered_us"),
        )
    )


# Interpretation-dispatched resample: the catalog-driven twin of
# resample/resample_time_weighted. The reference picks the resample
# semantics per series from TsInfo.point_fx (repository.py:293-301 +
# visual/utils.py:12-23); here the frame carries a point_fx column
# (joined from Domain.measurements) and each series takes the
# semantically-correct arm: INSTANT -> point mean per bucket, AVERAGE
# -> time-weighted staircase integral. Both arms are plain shuffles on
# (series, bucket); the union is append-only — scale-safe.
def resample_by_interpretation(
    df: DataFrame,
    point_fx_col: str,
    bucket_seconds: int,
    exact_value_decimals: int | None = None,
) -> DataFrame:
    """(series_id, point_fx, bucket_us, value, covered_us); covered_us
    is NULL on INSTANT series (a point mean covers no time span).
    Rows with an unknown interpretation raise at runtime.
    """
    fx = F.col(point_fx_col)
    checked = df.withColumn(
        point_fx_col,
        F.when(fx.isin(POINT_INSTANT_VALUE, POINT_AVERAGE_VALUE), fx).otherwise(
            F.raise_error(F.concat(F.lit("unknown point interpretation "), fx))
        ),
    )
    w_us = int(bucket_seconds) * 1_000_000
    inst = (
        checked.where(F.col(point_fx_col) == POINT_INSTANT_VALUE)
        .groupBy(
            SERIES,
            point_fx_col,
            (_floor_div_us(F.unix_micros(TS), w_us) * w_us).alias("bucket_us"),
        )
        .agg(
            round6_portable(F.avg(VALUE)).alias("value"),
            F.lit(None).cast("long").alias("covered_us"),
        )
    )
    avg_in = checked.where(F.col(point_fx_col) == POINT_AVERAGE_VALUE).select(
        SERIES, TS, VALUE
    )
    twa = resample_time_weighted(avg_in, bucket_seconds, exact_value_decimals)
    avg_arm = twa.select(
        SERIES,
        F.lit(POINT_AVERAGE_VALUE).alias(point_fx_col),
        "bucket_us",
        F.col("twa_value").alias("value"),
        "covered_us",
    )
    return inst.unionByName(avg_arm)


# Linear interpolation at a regular grid — the exact POINT_INSTANT
# (linear-between-points) resample: the series value at grid time g is
# the lerp of the bracketing points. Spark-native via the same
# union-tag + forward/backward struct-fill trick as asof_join: one
# shuffle on series_id, no pandas.
def interpolate_at(df: DataFrame, grid_dt_seconds: int) -> DataFrame:
    """(series_id, ts, value): values lerped onto the grid of multiples
    of ``grid_dt_seconds`` covering each series' span. Grid points
    outside [first, last] of a series are not emitted (no
    extrapolation); grid points exactly on a data point take its value.
    """
    g_us = int(grid_dt_seconds) * 1_000_000
    bounds = df.groupBy(SERIES).agg(
        F.unix_micros(F.min(TS)).alias("_lo"), F.unix_micros(F.max(TS)).alias("_hi")
    )
    grid = bounds.select(
        SERIES,
        F.explode(
            F.sequence(
                # exact ceil-div = -floor(-x/g); double ceil() or `div`
                # both mis-bin negative epochs
                -_floor_div_us(-F.col("_lo"), g_us),
                _floor_div_us(F.col("_hi"), g_us),
            )
        ).alias("_g"),
    ).select(SERIES, (F.col("_g") * g_us).alias("_t_us"), F.lit(1).alias("_is_grid"))
    pts = df.select(
        SERIES,
        F.unix_micros(TS).alias("_t_us"),
        F.lit(0).alias("_is_grid"),
        F.struct(F.unix_micros(TS).alias("t"), F.col(VALUE).alias("v")).alias("_p"),
    )
    merged = grid.withColumn("_p", F.lit(None).cast(pts.schema["_p"].dataType)).unionByName(
        pts
    )
    # Tie order differs per direction so a grid point landing exactly
    # on a data point sees it BOTH ways (t0 == t1 -> exact value): the
    # backward fill sorts data before grid, the forward fill grid
    # before data.
    w_prev = (
        W.partitionBy(SERIES)
        .orderBy(F.col("_t_us"), F.col("_is_grid"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # Forward fill expressed as a running frame over the REVERSED sort
    # ((t desc, is_grid asc) is the exact reversal of (t asc, is_grid
    # desc)) — a (current, unboundedFollowing) frame would make Spark
    # re-aggregate the remaining rows for every row, O(n^2) per series.
    w_next = (
        W.partitionBy(SERIES)
        .orderBy(F.desc("_t_us"), F.asc("_is_grid"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = (
        merged.withColumn("_prev", F.last("_p", ignorenulls=True).over(w_prev))
        .withColumn("_next", F.last("_p", ignorenulls=True).over(w_next))
        .where(F.col("_is_grid") == 1)
        .where(F.col("_prev").isNotNull() & F.col("_next").isNotNull())
    )
    t, t0, v0, t1, v1 = (
        F.col("_t_us"),
        F.col("_prev.t"),
        F.col("_prev.v"),
        F.col("_next.t"),
        F.col("_next.v"),
    )
    value = F.when(t1 == t0, v0).otherwise(v0 + (v1 - v0) * (t - t0) / (t1 - t0))
    return filled.select(
        SERIES,
        F.timestamp_micros(t).alias(TS),
        round6_portable(value).alias(VALUE),
    )


# W4a — bucketed downsample for rendering (cheap alternative to RDP).
def bucket_downsample(df: DataFrame, n_buckets: int, period: UtcPeriod) -> DataFrame:
    span = max(1, int(period.end_epoch - period.start_epoch))
    bucket_s = max(1, span // n_buckets)
    return resample(df, f"{bucket_s} seconds", agg="avg")


# W4b — Ramer-Douglas-Peucker polyline reduction (reference:
# dtss_serve_test.py:237-241 derives epsilon from the data rather than
# hardcoding it; its count-based formula is value-scale-dependent, so
# here the default is per-series value-range/10 — scale-INVARIANT: a
# series in [0,1] and one in [0,1000] reduce to comparable point
# counts). Inherently sequential per series -> grouped-map pandas UDF
# (applyInPandas), Arrow-batched; partition-parallel across series.
def rdp_downsample(df: DataFrame, epsilon: float | None = None) -> DataFrame:
    import numpy as np
    import pandas as pd

    schema = "series_id string, ts timestamp, value double"

    def _rdp_mask(xs: "np.ndarray", ys: "np.ndarray", eps: float) -> "np.ndarray":
        # Iterative Douglas-Peucker on (x, y) with a stack; keeps
        # endpoint + farthest-point recursion pattern.
        n = len(xs)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[-1] = True
        stack = [(0, n - 1)]
        while stack:
            i0, i1 = stack.pop()
            if i1 <= i0 + 1:
                continue
            x0, y0, x1, y1 = xs[i0], ys[i0], xs[i1], ys[i1]
            dx, dy = x1 - x0, y1 - y0
            norm = float(np.hypot(dx, dy))
            seg_x = xs[i0 + 1 : i1]
            seg_y = ys[i0 + 1 : i1]
            if norm == 0.0:
                dists = np.hypot(seg_x - x0, seg_y - y0)
            else:
                dists = np.abs(dy * seg_x - dx * seg_y + x1 * y0 - y1 * x0) / norm
            imax = int(np.argmax(dists)) if len(dists) else 0
            if len(dists) and dists[imax] > eps:
                mid = i0 + 1 + imax
                keep[mid] = True
                stack.append((i0, mid))
                stack.append((mid, i1))
        return keep

    def _reduce(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        if len(pdf) < 3:
            return pdf[["series_id", "ts", "value"]]
        ys = pdf["value"].to_numpy(dtype=float)
        xs = pdf["ts"].astype("int64").to_numpy(dtype=float) / 1e9
        finite = np.isfinite(ys)
        eps = epsilon
        if eps is None:
            rng = (np.nanmax(ys[finite]) - np.nanmin(ys[finite])) if finite.any() else 0.0
            eps = float(rng) / 10.0  # reference epsilon heuristic
        ys_f = np.where(finite, ys, 0.0)
        keep = _rdp_mask(xs, ys_f, eps) | ~finite
        return pdf.loc[keep, ["series_id", "ts", "value"]]

    return (
        df.select(SERIES, TS, VALUE)
        .groupBy(SERIES)
        .applyInPandas(_reduce, schema=schema)
    )


# ----------------------------------------------------------------------
# Batch sessionization (gaps-and-islands): a new session starts after
# more than `gap_seconds` of silence within a series; one shuffle on
# series_id.
def sessionize(
    df: DataFrame, gap_seconds: int, order_tiebreak: str | None = None
) -> DataFrame:
    """Assign a per-series session index (0-based) to every row."""
    order = [F.col(TS)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = W.partitionBy(SERIES).orderBy(*order)
    us = F.unix_micros(F.col(TS))
    prev = F.lag(us).over(w)
    new_sess = F.when(
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    run = W.partitionBy(SERIES).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn("_new", new_sess).withColumn(
        "session_idx", (F.sum("_new").over(run) - 1).cast("long")
    ).drop("_new")


# ----------------------------------------------------------------------
# Range (interval-containment) join: every point matched to every
# interval of the same series that contains it. A naive non-equi join
# plans as BroadcastNestedLoopJoin — O(points x intervals) compares and
# a broadcast of one whole side, both fatal at scale. The standard
# Spark-first rewrite: bucket time into coarse bins, explode each
# interval into the bins it overlaps, EQUI-join on (series, bin) — a
# codegen'd hash shuffle join — then apply the exact containment
# predicate to discard bin-collisions. Each point lives in exactly one
# bin, so no post-join dedup is needed. With bin_seconds ~ the typical
# interval length the explode factor is O(1) and the join stays linear
# in (points + intervals + true matches).
def range_join(
    points: DataFrame,
    intervals: DataFrame,
    bin_seconds: int,
    point_ts: str = TS,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    key: str = SERIES,
) -> DataFrame:
    """Inclusive containment: start_ts <= point ts <= end_ts, same key.

    Output = every (point row x matching interval row), with the
    interval columns appended. Intervals spanning many bins explode
    proportionally — pick ``bin_seconds`` near the median interval
    length (an interval then lands in ~2 bins).
    """
    bin_us = int(bin_seconds) * 1_000_000
    p = points.withColumn("_bin", F.floor(F.unix_micros(F.col(point_ts)) / bin_us))
    i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / bin_us),
                F.floor(F.unix_micros(F.col(end_col)) / bin_us),
            )
        ),
    )
    return (
        p.join(i, [key, "_bin"])
        .where(
            (F.col(point_ts) >= F.col(start_col))
            & (F.col(point_ts) <= F.col(end_col))
        )
        .drop("_bin")
    )


# ----------------------------------------------------------------------
# As-of alignment of two series (the natural multi-series extension,
# SURVEY.md §2 joins row "range/as-of"): for every point of `left`,
# the latest `right` point at-or-before it (within optional tolerance).
# Implemented Spark-native: union-tag + last_value(ignorenulls) over an
# ordered window — one shuffle on series_id, no pandas.
def asof_join(
    left: DataFrame,
    right: DataFrame,
    tolerance_seconds: int | None = None,
    right_value_col: str = "right_value",
) -> DataFrame:
    # The right row forward-fills as ONE struct so (ts, value) always
    # pair from the SAME row — filling them independently would let a
    # NULL-valued right point contribute its timestamp while an older
    # point contributes its value, and the tolerance check would then
    # validate the wrong timestamp. The right ts rides as unix_micros
    # because the tolerance check below compares micros, so nothing
    # rebuilds a timestamp.
    l = left.select(
        SERIES, TS, VALUE, F.lit(1).alias("_is_l"),
        F.lit(None).cast("struct<rts_us:bigint,rv:double>").alias("_r"),
    )
    r = right.select(
        SERIES, TS, F.lit(None).cast("double").alias(VALUE), F.lit(0).alias("_is_l"),
        F.struct(
            F.unix_micros(F.col(TS)).alias("rts_us"), F.col(VALUE).alias("rv")
        ).alias("_r"),
    )
    merged = l.unionByName(r)
    # Right rows sort before left rows at equal ts so "at-or-before"
    # includes the simultaneous right point.
    w = (
        W.partitionBy(SERIES)
        .orderBy(TS, "_is_l")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = (
        merged.withColumn("_r_ff", F.last("_r", ignorenulls=True).over(w))
        .where(F.col("_is_l") == 1)
    )
    rv = F.col("_r_ff.rv")
    if tolerance_seconds is not None:
        in_tol = (
            F.unix_micros(TS) - F.col("_r_ff.rts_us")
        ) <= int(tolerance_seconds) * 1_000_000
        rv = F.when(in_tol, rv)
    return out.select(SERIES, TS, VALUE, rv.alias(right_value_col))
