"""Distributed exact global ranking (100 TB checklist).

An unpartitioned ranking window (``row_number() OVER (ORDER BY ...)``)
moves EVERY row to one partition — WindowExec warns, and at scale one
task sorts the world. The standard distributed shape for an exact
global rank keeps the sort parallel:

1. ``repartitionByRange`` on the order columns — Spark samples range
   bounds, so each partition holds a contiguous, disjoint slice of the
   global order (skew-resistant: bounds adapt to the data);
2. number rows WITHIN each partition (parallel, zero extra shuffle —
   a running counter over the partition's Arrow batches);
3. add per-partition offsets (a tiny count-per-partition aggregate,
   cumulated driver-side — one row per partition — and broadcast back).

The result is bit-identical to the single-partition window whenever
the order columns form a total order (callers must include a
tie-breaking column, exactly as they must for ANY deterministic
ranking). ntile/percent_rank derive from the rank arithmetically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.session import local_frame


def global_row_number(
    df: DataFrame,
    order_by: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """(df + ``out_col`` 1-based global row number, total row count).

    ``order_by`` must be a TOTAL order (include a tie-breaker) for a
    deterministic result. The total count rides along because every
    derived analytic (ntile, percent_rank) needs it and it falls out
    of the offset computation for free.
    """
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_by]
    parted = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        # materialize the ranged sort ONCE: the counts pass and the
        # numbering pass below both consume it, and partition order
        # must not be re-derived between them.
        .localCheckpoint(eager=True)
    )
    # One row per partition after partial aggregation — tiny.
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = int(sum(counts.values()))
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not counts:
        empty = parted.drop("_pid").withColumn(out_col, F.lit(0).cast("long"))
        return empty.where(F.lit(False)), 0
    # Running counter over the partition's Arrow batches: batches of
    # one partition arrive in order, so base+i is the local rank.
    from pyspark.sql.types import LongType, StructField, StructType

    schema_out = StructType(
        list(parted.schema.fields) + [StructField(out_col, LongType())]
    )

    def _number(batches):
        base = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = range(base + 1, base + 1 + len(pdf))
            base += len(pdf)
            yield pdf

    numbered = parted.mapInPandas(_number, schema=schema_out)
    off_df = local_frame(
        spark, [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    out = (
        numbered.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col(out_col) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )
    return out, total


def grouped_prefix_sum(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` per group in ``order_by`` order —
    the distributed twin of ``sum(...) OVER (PARTITION BY group ORDER
    BY order ROWS UNBOUNDED PRECEDING)``.

    A per-key running sum window sends each key's ENTIRE history to one
    task: with a handful of hot keys (event types, tenant ids) that is
    a straggler at 100 TB no matter how many executors exist. The
    distributed shape mirrors global_row_number:

    1. ``repartitionByRange`` on (group, order) — each partition holds
       a CONTIGUOUS slice, so a group spans adjacent partitions only
       and the per-(partition, group) partials table has ~n_groups +
       n_partitions rows TOTAL (not n_groups x n_partitions);
    2. per-(partition, group) sums, cumulated per group across
       partitions with an ordinary window over that tiny table;
    3. within-partition per-group running sums via a carry over each
       partition's Arrow batches, plus the broadcast offsets.

    Bit-exact for integer/decimal values (addition is associative);
    for doubles the result can differ from the sequential window in
    the last ulp (the offset is added as one number, not accumulated
    row by row) — sum integer cents for money, exactly like the
    ``running_total`` query does.

    ``order_by`` must totally order rows WITHIN a group for a
    deterministic result (same as any running-sum window).
    """
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in group_by + order_by]
    # `_pgk` is a non-null STRUCT of the group cols: struct equality
    # compares fields null-safely, so keying the offsets aggregate and
    # join by it keeps NULL-group rows (a raw-column equi-join would
    # silently DROP them — NULL never equals NULL — even though every
    # (pid, group) has its offset row by construction). It is built by
    # a plain projection over the pinned frame on each side — never
    # carried through the Arrow pass (struct cells cross pandas as
    # per-row dicts; measured ~20% wall on a 100k-row consumer) and
    # never as an eqNullSafe join condition (measured ~100x Catalyst
    # size-estimate inflation downstream, flipping consumers'
    # broadcast joins to sort-merge).
    parted = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    partials = parted.groupBy(
        "_pid", F.struct(*group_by).alias("_pgk")
    ).agg(F.sum(value_col).alias("_s"))
    w_off = (
        W.partitionBy("_pgk")
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # NULL while the group has no non-NULL value in earlier partitions
    # (the window's sum is NULL until its first non-NULL value too).
    offsets = partials.select(
        "_pid", "_pgk", F.sum("_s").over(w_off).alias("_off")
    )

    gcols = list(group_by)
    vtype = parted.schema[value_col].dataType

    def _cumsum(batches):
        import pandas as pd

        # NULL group values are ordinary partitions to the window this
        # operator twins (PARTITION BY g treats NULL as one key), so
        # they must be ordinary groups here too: dropna=False keeps
        # them in the cumsum, and key comparisons go through a
        # NaN-aware normalizer (pandas renders NULL as NaN/None/NaT
        # depending on dtype, and NaN != NaN would silently break the
        # cross-batch carry for a NULL-group run).
        def _norm_key(row):
            return tuple(None if pd.isna(x) else x for x in row)

        # NULL values are skipped like the window's sum skips them: a
        # row's sum is NULL only while its group has seen no value yet,
        # so sum the filled values and count the non-NULL ones.
        carry_key = None
        carry_val = 0
        carry_seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            v = pdf[value_col]
            runs = (
                pdf.assign(_v=v.fillna(0), _n=v.notna())
                .groupby(gcols, sort=False, dropna=False)[["_v", "_n"]]
                .cumsum()
            )
            local, seen = runs["_v"], runs["_n"]
            if carry_key is not None and len(pdf):
                first = _norm_key(pdf.iloc[0][gcols])
                if first == carry_key:
                    # contiguous prefix of the batch continues the
                    # carried group (rows are sorted by group), so the
                    # prefix length is simply the run of matching rows
                    mask = None
                    for c, kv in zip(gcols, carry_key):
                        col = pdf[c]
                        m = (col.isna() if kv is None else (col == kv)).to_numpy()
                        mask = m if mask is None else (mask & m)
                    run = (~mask).argmax() if not mask.all() else len(pdf)
                    local.iloc[:run] = local.iloc[:run] + carry_val
                    seen.iloc[:run] = seen.iloc[:run] + carry_seen
            if len(pdf):
                carry_key = _norm_key(pdf.iloc[-1][gcols])
                carry_val = local.iloc[-1]
                carry_seen = seen.iloc[-1]
            pdf["_local"] = local.where(seen > 0)
            yield pdf

    schema_out = StructType(
        list(parted.schema.fields) + [StructField("_local", vtype)]
    )
    local = parted.mapInPandas(_cumsum, schema=schema_out)
    return (
        local.withColumn("_pgk", F.struct(*group_by))
        .join(F.broadcast(offsets), ["_pid", "_pgk"])
        .withColumn(
            out_col,
            F.coalesce(
                F.col("_local") + F.col("_off"), F.col("_local"), F.col("_off")
            ),
        )
        .drop("_pid", "_pgk", "_local", "_off")
    )


def _check_no_timestamp_carry(df, carry_cols):
    """Lag/lead/fill columns ride through numpy OBJECT arrays in the
    Arrow shift (and through the driver-collected boundary rows), where
    bare datetime64 values round-trip shifted under the session
    timezone — refuse them loudly; callers carry ``unix_micros`` and
    rebuild with ``timestamp_micros`` (exact, the convention every
    engine twin uses). Recurses into struct fields: a timestamp INSIDE
    a carried struct takes the same object-array path and would
    otherwise bypass the guard (the asof-join fill struct carries
    ``rts_us`` for exactly this reason)."""
    from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

    def _contains_timestamp(dt) -> bool:
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            return True
        if isinstance(dt, StructType):
            return any(_contains_timestamp(f.dataType) for f in dt.fields)
        return False

    for c in carry_cols:
        if _contains_timestamp(df.schema[c].dataType):
            raise TypeError(
                f"lag/lead/fill column {c!r} is or contains a "
                "timestamp: carry unix_micros(col) instead and rebuild "
                "with timestamp_micros (object-array shifts corrupt "
                "datetime64 values)"
            )


def grouped_lag(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    lag_cols: list[str],
    suffix: str = "_prev",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``<col><suffix>`` columns: each ``lag_cols`` value from the
    group's PREVIOUS row in ``order_by`` order (NULL at group starts)
    — the distributed twin of ``lag(col) OVER (PARTITION BY group
    ORDER BY order)``.

    A per-key lag window serializes each key's history through one
    task. Here the data range-partitions on (group, order) — groups
    are contiguous, so the only rows whose predecessor lives elsewhere
    are each partition's FIRST rows, and their predecessors are each
    partition's LAST rows: exactly one row per partition, collected
    and carried forward driver-side (skipping empty range partitions)
    and broadcast into a per-partition Arrow shift with batch carry.

    ``order_by`` must be all-ascending (partition boundaries are
    located with a max-struct) and total within a group for a
    deterministic result — the same contract as the window it
    replaces.
    """
    import numpy as np

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    g = list(group_by)
    _check_no_timestamp_carry(df, lag_cols)
    cols = [F.col(c) for c in g + list(order_by)]
    parted = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # struct comparison is lexicographic by field order: group cols
    # FIRST, then order cols, so the max-struct is the partition's
    # last row in (group, order) sort order
    carry_fields = g + list(order_by) + list(lag_cols)
    last_rows = {
        r["_pid"]: r["_l"].asDict()
        for r in parted.groupBy("_pid")
        .agg(F.max(F.struct(*[F.col(c) for c in carry_fields])).alias("_l"))
        .collect()
    }
    # predecessor of partition p's first row = last row of the nearest
    # NON-EMPTY earlier partition (range partitions can be empty)
    boundary = {}
    prev = None
    for pid in range(n_part + 1):
        boundary[pid] = prev
        if pid in last_rows:
            prev = last_rows[pid]

    from pyspark.sql.types import StructField, StructType

    schema_out = StructType(
        list(parted.schema.fields)
        + [
            StructField(c + suffix, parted.schema[c].dataType)
            for c in lag_cols
        ]
    )
    gcols = list(g)
    lcols = list(lag_cols)

    def _shift(batches):
        pred = None  # dict of previous row's fields, or None
        first = True
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                for c in lcols:
                    pdf[c + suffix] = None
                yield pdf
                continue
            if first:
                pred = boundary.get(int(pdf["_pid"].iloc[0]))
                first = False
            # vectorized within-batch shift, group-change rows nulled
            same = np.ones(len(pdf), dtype=bool)
            for c in gcols:
                v = pdf[c].to_numpy()
                same[1:] &= v[1:] == v[:-1]
            for c in lcols:
                v = pdf[c].to_numpy()
                out = np.empty(len(pdf), dtype=object)
                out[1:] = v[:-1]
                out[~same] = None
                out[0] = (
                    pred[c]
                    if pred is not None
                    and all(pred[cc] == pdf[cc].iloc[0] for cc in gcols)
                    else None
                )
                pdf[c + suffix] = out
            pred = {c: pdf[c].iloc[-1] for c in gcols + lcols}
            yield pdf

    return parted.mapInPandas(_shift, schema=schema_out).drop("_pid")


def grouped_lead(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    lead_cols: list[str],
    suffix: str = "_next",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``<col><suffix>`` columns: each ``lead_cols`` value from
    the group's NEXT row in ``order_by`` order (NULL at group ends) —
    the mirror of :func:`grouped_lag` for ``lead()`` windows (the
    end-extension / staircase shape: every per-series ``lead(ts)``).

    Symmetric construction: the rows whose successor lives elsewhere
    are each partition's LAST rows, and their successors are each
    partition's FIRST rows — one row per partition, carried backward
    past empty range partitions. Within a partition the Arrow pass
    buffers one batch so each batch's last row can take its lead from
    the NEXT batch's first row.
    """
    import numpy as np

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    g = list(group_by)
    _check_no_timestamp_carry(df, lead_cols)
    cols = [F.col(c) for c in g + list(order_by)]
    parted = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    carry_fields = g + list(order_by) + list(lead_cols)
    first_rows = {
        r["_pid"]: r["_f"].asDict()
        for r in parted.groupBy("_pid")
        .agg(F.min(F.struct(*[F.col(c) for c in carry_fields])).alias("_f"))
        .collect()
    }
    # successor of partition p's last row = first row of the nearest
    # NON-EMPTY later partition
    boundary = {}
    nxt = None
    for pid in range(n_part, -1, -1):
        boundary[pid] = nxt
        if pid in first_rows:
            nxt = first_rows[pid]

    from pyspark.sql.types import StructField, StructType

    schema_out = StructType(
        list(parted.schema.fields)
        + [
            StructField(c + suffix, parted.schema[c].dataType)
            for c in lead_cols
        ]
    )
    gcols = list(g)
    lcols = list(lead_cols)

    def _shift(batches):
        def _within(pdf):
            pdf = pdf.copy()
            same = np.ones(len(pdf), dtype=bool)
            for c in gcols:
                v = pdf[c].to_numpy()
                same[:-1] &= v[:-1] == v[1:]
            for c in lcols:
                v = pdf[c].to_numpy()
                out = np.empty(len(pdf), dtype=object)
                out[:-1] = v[1:]
                out[~same] = None
                out[-1] = None  # pending: filled from the next batch
                pdf[c + suffix] = out
            return pdf

        def _finalize(pdf, succ):
            if succ is not None and all(
                succ[c] == pdf[c].iloc[-1] for c in gcols
            ):
                for c in lcols:
                    col = pdf[c + suffix].to_numpy()
                    col[-1] = succ[c]
                    pdf[c + suffix] = col
            return pdf

        pid = None
        held = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            if held is not None:
                yield _finalize(held, {c: pdf[c].iloc[0] for c in gcols + lcols})
            held = _within(pdf)
        if held is not None:
            yield _finalize(held, boundary.get(pid))

    return parted.mapInPandas(_shift, schema=schema_out).drop("_pid")


def sliding_range_count(
    df: DataFrame,
    group_by: list[str],
    id_cols: list[str],
    sec_col: str,
    preceding: int,
    out_col: str = "n_in_window",
    bin_size: int | None = None,
) -> DataFrame:
    """Per-row count of same-group rows within ``[sec - preceding,
    sec]`` — the distributed twin of ``count(*) OVER (PARTITION BY
    group ORDER BY sec RANGE BETWEEN preceding PRECEDING AND CURRENT
    ROW)``.

    The range-frame window is a per-key serial scan (one task per hot
    key). The distributed decomposition is the textbook one:
    ``count[s-p, s] = cum(s) - cum(s - p - 1)`` where each ``cum`` is
    (cumulative count through the end of the PREVIOUS time bin) +
    (rows inside the boundary bin up to the point). Bin-level
    cumulative counts come from :func:`grouped_prefix_sum` over a
    densified (group, bin) table (~time_span / bin_size rows per
    group — tiny, checkpointed so its subtree runs once for both
    boundary lookups); the within-bin remainders come from ONE
    merge-scan: real rows and two per-row phantom probes (one at
    ``sec``, one at ``sec - p - 1``) union into a single frame,
    partitioned by (group, bin) and sorted by value with reals before
    phantoms on ties, and a running ``sum(is_real)`` window reads off
    "rows in this bin <= v" at every phantom position. That replaces
    the old shape's two probe-side equi-joins (each fanning every row
    out by its bin's row count, then re-collapsing through a
    ``first()`` sort-aggregate per join) with one exchange of ~3x the
    row count and zero fanout. Per-(group, bin) window partitions are
    bounded by one bin's rows — no per-key history ever serializes
    through one task.

    ``id_cols`` must uniquely identify rows (the phantom pivot groups
    by them). ``sec_col`` is integer seconds (or any integer time
    unit; ``preceding`` in the same unit).
    """
    from pyspark.sql.window import Window as W

    bin_size = bin_size or max(1, preceding)
    g = list(group_by)
    _bin = F.floor(F.col(sec_col) / F.lit(float(bin_size))).cast("long")
    # One narrow pass over the input, materialized: feeds the bin
    # histogram AND the merge-scan reals (different pushed filters per
    # consumer would otherwise re-run the scan twice).
    rows = df.select(
        *g,
        F.col(sec_col).alias("_s2"),
        _bin.alias("_b2"),
    ).localCheckpoint(eager=True)
    # Group keys join null-safely throughout the cum-table machinery:
    # groupBy/windows treat a NULL group value as an ordinary key, so
    # the equi-joins that re-attach derived tables must too — a plain
    # join on the raw group columns silently zeroes the cumulative
    # terms for NULL groups (wrong, even negative, counts) while the
    # window remainders stay real. Null-safety rides `_gk`, a non-null
    # STRUCT of the group cols (struct equality compares fields
    # null-safely) built ONCE here over the pinned rows and CARRIED
    # through the tiny tables in USING-join form. The formulation is
    # deliberate: an eqNullSafe join condition, or a struct built
    # fresh at each join side, measured a 10^2–10^6x inflation of
    # Catalyst's size estimate for the cum table, flipping the _base
    # joins below from broadcast to sort-merge (full probe-side
    # exchanges); this shape keeps the estimate at ~2 MiB (sf0.1) and
    # the broadcasts intact — see plans/r12/w5_sliding_count_scaled_*.
    binned = rows.groupBy(F.struct(*g).alias("_gk"), "_b2").agg(
        F.count(F.lit(1)).alias("_c")
    )
    rng = binned.groupBy("_gk").agg(
        F.min("_b2").alias("_lo"), F.max("_b2").alias("_hi")
    )
    dense = (
        rng.select("_gk", F.explode(F.sequence("_lo", "_hi")).alias("_b2"))
        .join(binned, ["_gk", "_b2"], "left")
        .withColumn("_c", F.coalesce("_c", F.lit(0)))
        # raw group cols back out of the struct for the prefix sum's
        # pandas kernel (struct cells cross Arrow as unhashable dicts)
        .select(
            "_gk", *[F.col(f"_gk.{c}").alias(c) for c in g], "_b2", "_c"
        )
    )
    # Two pins on purpose: grouped_prefix_sum's internal checkpoint
    # fixes the sampled range-partition bounds for its own consumers,
    # and this outer one (a) lets both _base consumers share the tiny
    # cum table and (b) captures its REAL size so the planner
    # broadcast-joins it in the initial plan. The single-pin fusion was
    # built and measured (r12): toy-scale min −8%/median flat, but the
    # un-checkpointed cum subtree loses those stats and both _base
    # joins planned as SortMergeJoin with a full probe-side Exchange
    # each (plans/r12/w5_sliding_count_scaled_fused.txt) — AQE converts
    # them back at runtime, but the probe data still pays two shuffle
    # writes the pinned shape never does. Reverted.
    cum_end = grouped_prefix_sum(
        dense, g, ["_b2"], "_c", out_col="_cum"
    ).localCheckpoint(eager=True)

    probes = (
        df.withColumn("_b", _bin)
        .withColumn("_t", F.col(sec_col) - F.lit(preceding + 1))
        .withColumn(
            "_tb", F.floor(F.col("_t") / F.lit(float(bin_size))).cast("long")
        )
    )
    pay = [c for c in df.columns if c not in id_cols]

    # Merge-scan: reals carry _real=1; each probe row contributes two
    # phantoms (_real=0) — the s-side at its own value (payload rides
    # here exactly once) and the t-side at the window's lower bound.
    real = rows.select(
        *g,
        F.col("_b2").alias("_bk"),
        F.col("_s2").alias("_v"),
        F.lit(1).alias("_real"),
    )
    # Both phantoms come from ONE pass over the input via an in-row
    # explode (two separate select branches would each rescan the
    # source); the t-side's payload/bin columns are nulled so only the
    # s-side carries payload bytes through the exchange.
    npay = [c for c in pay if c not in g]
    # group cols already present via id_cols must not be selected twice
    # (COLUMN_ALREADY_EXISTS); they still partition the window below.
    g_extra = [c for c in g if c not in id_cols]
    both = probes.select(
        *id_cols,
        *g_extra,
        *npay,
        "_b",
        "_tb",
        F.explode(
            F.array(
                F.struct(
                    F.col("_b").alias("_bk"),
                    F.col(sec_col).cast("long").alias("_v"),
                    F.lit(1).alias("_side"),
                ),
                F.struct(
                    F.col("_tb").alias("_bk"),
                    F.col("_t").cast("long").alias("_v"),
                    F.lit(0).alias("_side"),
                ),
            )
        ).alias("_e"),
    )
    phantoms = both.select(
        *id_cols,
        *g_extra,
        F.col("_e._bk").alias("_bk"),
        F.col("_e._v").alias("_v"),
        F.lit(0).alias("_real"),
        F.col("_e._side").alias("_side"),
        *[F.when(F.col("_e._side") == 1, F.col(c)).alias(c) for c in npay],
        F.when(F.col("_e._side") == 1, F.col("_b")).alias("_b"),
        F.when(F.col("_e._side") == 1, F.col("_tb")).alias("_tb"),
    )
    u = real.unionByName(phantoms, allowMissingColumns=True)
    # Reals sort BEFORE phantoms on equal values (desc on _real), so a
    # phantom's running count is exactly "reals in this bin <= v" —
    # ties at the probe value included, matching RANGE ... CURRENT ROW.
    w_bin = (
        W.partitionBy(*g, "_bk")
        .orderBy(F.col("_v").asc(), F.col("_real").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ph = u.withColumn("_cnt", F.sum("_real").over(w_bin)).where(
        F.col("_real") == 0
    )
    # Exactly two phantoms per id: pivot them back to one row. Payload
    # lives only on the s-side, so ignorenulls-first is deterministic.
    rem = ph.groupBy(*id_cols).agg(
        *[
            F.first(F.when(F.col("_side") == 1, F.col(c)), ignorenulls=True).alias(c)
            for c in pay + ["_b", "_tb"]
        ],
        F.max(F.when(F.col("_side") == 1, F.col("_cnt"))).alias("_rem_s"),
        F.max(F.when(F.col("_side") == 0, F.col("_cnt"))).alias("_rem_t"),
    )

    def _base(p: DataFrame, bin_col: str, alias: str) -> DataFrame:
        # null-safe via the struct key CARRIED from the pinned rows
        # (fresh-building it on this side would inflate the estimate
        # and break the broadcast — see the comment above `rows`); the
        # probe side builds its struct fresh, which is harmless: only
        # the build (ce) side's estimate drives the join strategy.
        ce = cum_end.select(
            "_gk",
            (F.col("_b2") + 1).alias(bin_col),
            F.col("_cum").alias(alias),
        )
        return (
            p.withColumn("_gk", F.struct(*g))
            .join(ce, ["_gk", bin_col], "left")
            .withColumn(alias, F.coalesce(alias, F.lit(0)))
            .drop("_gk")
        )

    p = _base(rem, "_b", "_base_s")
    p = _base(p, "_tb", "_base_t")
    return p.withColumn(
        out_col,
        (
            (F.col("_base_s") + F.col("_rem_s"))
            - (F.col("_base_t") + F.col("_rem_t"))
        ).cast("long"),
    ).select(*id_cols, *pay, out_col)


def ntile_expr(rank_col: str, total: int, k: int) -> Column:
    """Exact SQL ``ntile(k)`` from a 1-based total-order rank.

    ntile puts ``total % k`` leading buckets one row over the floor
    size — the first ``n_big * (size + 1)`` ranks land in the big
    buckets, the rest in floor-size buckets.
    """
    size = total // k
    n_big = total % k
    big_span = n_big * (size + 1)
    r = F.col(rank_col)
    if size == 0:
        # fewer rows than buckets: rank IS the bucket
        return r.cast("int")
    return (
        F.when(r <= big_span, F.floor((r - 1) / (size + 1)))
        .otherwise(n_big + F.floor((r - big_span - 1) / size))
        .cast("int")
        + 1
    )


def percent_rank_expr(rank_col: str, total: int) -> Column:
    """``percent_rank()`` from a 1-based rank over a TOTAL order (no
    ties, so rank == row_number): (rank - 1) / (total - 1)."""
    if total <= 1:
        return F.lit(0.0)
    return (F.col(rank_col) - 1) / F.lit(float(total - 1))


def _grouped_numbered(
    df: DataFrame,
    group_col: str,
    order_by: list[str],
    out_col: str,
    n_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared engine behind grouped_row_number/grouped_exact_percentiles:
    (numbered df, tiny per-group stats df with (group, n_col)).

    Everything per-group is derived from ONE per-(partition, group)
    COUNT aggregate over the checkpointed ranged sort — the group is
    the LEADING range key, so each group is a contiguous run of the
    global order and min_rank(g) = 1 + Σ_{g' < g} count(g'). That
    count table has ~n_groups + n_partitions rows (each group spans
    adjacent partitions only), so the cross-partition cumulations are
    single-task windows over a tiny frame, and the Python numbering
    pass over the full data runs exactly ONCE (the old shape re-ran it
    for a stats aggregate over its own output).
    """
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in [group_col, *order_by]]
    parted = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    pg = parted.groupBy("_pid", group_col).agg(F.count(F.lit(1)).alias("_c"))
    w_pid = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    pid_off = (
        pg.groupBy("_pid")
        .agg(F.sum("_c").alias("_pc"))
        .select("_pid", F.coalesce(F.sum("_pc").over(w_pid), F.lit(0)).alias("_off"))
    )
    # group sizes + count of all preceding groups' rows, in the SAME
    # ascending order the range partitioner used (leading sort key)
    w_grp = W.orderBy(group_col).rowsBetween(W.unboundedPreceding, -1)
    gstats = (
        pg.groupBy(group_col)
        .agg(F.sum("_c").cast("long").alias(n_col))
        .select(
            group_col,
            n_col,
            F.coalesce(F.sum(n_col).over(w_grp), F.lit(0)).alias("_prior"),
        )
    )
    schema_out = StructType(
        list(parted.schema.fields) + [StructField("_local", LongType())]
    )

    def _number(batches):
        base = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_local"] = range(base + 1, base + 1 + len(pdf))
            base += len(pdf)
            yield pdf

    numbered = parted.mapInPandas(_number, schema=schema_out)
    # global_rank = _local + _off; min_rank(group) = _prior + 1
    out = (
        numbered.join(F.broadcast(pid_off), "_pid")
        .join(F.broadcast(gstats), group_col)
        .withColumn(
            out_col, (F.col("_local") + F.col("_off") - F.col("_prior")).cast("long")
        )
        .drop("_pid", "_local", "_off", "_prior")
    )
    return out, gstats.drop("_prior")


def grouped_row_number(
    df: DataFrame,
    group_col: str,
    order_by: list[str],
    out_col: str = "grn",
    n_col: str = "n_group",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group 1-based row number + group size — the distributed
    twin of ``row_number() OVER (PARTITION BY group ORDER BY ...)``
    plus ``count(*) OVER (PARTITION BY group)``.

    A per-group ranking window sends each group's entire history to
    one task — with a handful of hot groups (languages, sources) that
    is a straggler at 100 TB. Distributed shape: ONE ranged global
    sort on (group, *order_by), numbered within partitions in a single
    Python pass, with per-partition and per-group offsets derived from
    a tiny per-(partition, group) count aggregate broadcast back —
    rank_in_group = local_rank + partition_offset - rows_in_prior_groups.
    Contiguity of the global order within each group makes this exact;
    ``order_by`` must total-order rows WITHIN a group (include a
    tie-breaker), exactly as for any deterministic ranking.
    """
    out, _ = _grouped_numbered(
        df, group_col, order_by, out_col, n_col, num_partitions
    )
    return out


def ntile_col_expr(rank_col: str, total_col: str, k: int) -> Column:
    """``ntile_expr`` with a per-row total COLUMN (per-group ntile
    from grouped_row_number's rank + group size). Same arithmetic:
    the first ``(total % k) * (total // k + 1)`` ranks land in the
    one-row-larger buckets. Pure integer column math — bit-portable.
    """
    r = F.col(rank_col).cast("long")
    total = F.col(total_col).cast("long")
    size = F.floor(total / k).cast("long")
    n_big = total - size * k
    big_span = n_big * (size + 1)
    return (
        F.when(size == F.lit(0), r)  # fewer rows than buckets
        .when(r <= big_span, F.floor((r - 1) / (size + 1)))
        .otherwise(n_big + F.floor((r - big_span - 1) / size))
        .cast("int")
        + F.when(size == F.lit(0), F.lit(0)).otherwise(F.lit(1))
    ).cast("int")


def grouped_exact_percentiles(
    df: DataFrame,
    value_col: str,
    ps: list[int],
    group_col: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """(group, p, value) — EXACT discrete percentiles per group:
    value at rank ceil(p/100 * n) in (value, id) order, i.e.
    ``percentile_disc`` semantics with a deterministic tie order.

    Spark's exact ``percentile`` aggregate buffers every value per
    group on one task (the 100 TB killer) and ``approx_percentile``
    is not oracle-exact. This shape stays distributed: one ranged
    global sort (grouped_row_number), then a TINY per-group target
    table — ceil via pure integer math ((p*n + 99) div 100), portable
    across engines — broadcast-joined back on (group, rank).

    Rows with a NULL group or NULL value are the caller's problem:
    the target join is an equality join (NULL group never matches,
    exactly as in the SQL replay), and NULLs in ``value_col`` sort
    first under Spark's ascending order but LAST in most SQL engines
    — filter them out before calling if the column is nullable.
    """
    for p in ps:
        if not (isinstance(p, int) and 1 <= p <= 100):
            raise ValueError(f"percentiles must be ints in 1..100, got {p!r}")
    ranked, gstats = _grouped_numbered(
        df.select(group_col, value_col, id_col),
        group_col,
        [value_col, id_col],
        "grn",
        "n_group",
        num_partitions,
    )
    # targets come from the TINY per-group stats table (never from the
    # numbered output, which would re-run the full numbering pass);
    # rename the target-side keys so the join is unambiguous
    targets = (
        gstats.select(
            F.col(group_col).alias("_t_grp"),
            F.explode(F.array(*[F.lit(p) for p in ps])).alias("p"),
            F.col("n_group").alias("_n"),
        )
        .withColumn(
            "_target",
            F.floor((F.col("p").cast("long") * F.col("_n") + 99) / 100).cast("long"),
        )
        .drop("_n")
    )
    return (
        ranked.join(
            F.broadcast(targets),
            on=[
                F.col(group_col) == F.col("_t_grp"),
                F.col("grn") == F.col("_target"),
            ],
        )
        .select(group_col, "p", value_col)
    )


def grouped_last_fill(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    fill_col: str,
    out_col: str | None = None,
    ascending: list[bool] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + ``out_col``: the last non-NULL ``fill_col`` at-or-before
    each row in (group, order) order — the distributed twin of
    ``last(col, ignorenulls=True) OVER (PARTITION BY group ORDER BY
    order ROWS UNBOUNDED PRECEDING)``, the forward-fill window behind
    as-of joins and interpolation. ``ascending=[...]`` reverses order
    columns, giving the mirrored backward fill ("first non-NULL
    at-or-after" in natural order) without a separate primitive.

    Shape: range-partition on (group, order cols with direction) so
    each partition is a contiguous slice; one summary Arrow pass emits
    a single row per partition (trailing group + its last non-NULL
    value); the driver cumulates those n_partitions rows into a
    boundary seed per partition; a second Arrow pass does vectorized
    per-group ffill with batch carry. No per-key history ever
    serializes through one task.

    Contracts: group cols non-NULL; NULL (not NaN) marks missing in
    ``fill_col`` (wrap doubles in a struct — as-of/interpolation
    already fill whole structs so (ts, value) pair from the same row);
    (group, order) need not be unique, but ties make the fill
    nondeterministic exactly as they do for the window it replaces.
    """
    import pandas as pd

    from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    g = list(group_by)
    _check_no_timestamp_carry(df, [fill_col])
    asc = ascending or [True] * len(order_by)
    sort_exprs = [F.col(c) for c in g] + [
        F.col(c).asc() if a else F.col(c).desc()
        for c, a in zip(order_by, asc)
    ]
    out_col = out_col or fill_col + "_ff"
    parted = (
        df.repartitionByRange(n_part, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    ftype = parted.schema[fill_col].dataType
    sum_schema = StructType(
        [StructField("_pid", IntegerType())]
        + [StructField(c, parted.schema[c].dataType) for c in g]
        + [StructField("_has", BooleanType()), StructField("_val", ftype)]
    )

    def _summary(batches):
        pid = None
        last_g = None
        has = False
        val = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            bg = tuple(pdf[c].iloc[-1] for c in g)
            if bg != last_g:
                last_g, has, val = bg, False, None
            mask = pd.Series(True, index=pdf.index)
            for c, v in zip(g, bg):
                mask &= pdf[c] == v
            nn = pdf.loc[mask, fill_col]
            nn = nn[nn.notna()]
            if len(nn):
                val, has = nn.iloc[-1], True
        if pid is not None:
            row = {"_pid": pid, "_has": has, "_val": val}
            for c, v in zip(g, last_g):
                row[c] = v
            yield pd.DataFrame([row], columns=[f.name for f in sum_schema.fields])

    summaries = {
        r["_pid"]: (tuple(r[c] for c in g), r["_has"], r["_val"])
        for r in parted.mapInPandas(_summary, schema=sum_schema).collect()
    }
    # Row objects for struct fill cols -> plain dicts so the Arrow pass
    # can emit them back as struct values.
    def _plain(v):
        return v.asDict(recursive=True) if hasattr(v, "asDict") else v

    boundary = {}
    cur_g, cur_v = None, None
    for pid in range(n_part + 1):
        boundary[pid] = (cur_g, cur_v)
        s = summaries.get(pid)
        if s is not None:
            sg, has, sv = s
            if sg != cur_g:
                cur_g, cur_v = sg, (_plain(sv) if has else None)
            elif has:
                cur_v = _plain(sv)

    fill_schema = StructType(
        list(parted.schema.fields) + [StructField(out_col, ftype)]
    )

    def _fill(batches):
        first = True
        carry_g, carry_v = None, None
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = None
                yield pdf
                continue
            if first:
                carry_g, carry_v = boundary.get(
                    int(pdf["_pid"].iloc[0]), (None, None)
                )
                first = False
            filled = pdf.groupby(g, sort=False)[fill_col].ffill()
            if carry_g is not None and carry_v is not None:
                # sorted by group, so rows matching the carried group
                # are the leading run; nulls there predate any value
                mask = filled.isna()
                for c, v in zip(g, carry_g):
                    mask &= pdf[c] == v
                if mask.any():
                    filled = filled.astype(object)
                    filled.loc[mask] = pd.Series(
                        [carry_v] * int(mask.sum()),
                        index=filled.index[mask],
                        dtype=object,
                    )
            # pandas ffill leaves leading missing entries as float NaN
            # even in object columns — normalize to None so Arrow can
            # rebuild struct values
            filled = filled.where(filled.notna(), None)
            pdf[out_col] = filled
            carry_g = tuple(pdf[c].iloc[-1] for c in g)
            lv = filled.iloc[-1]
            carry_v = None if lv is None or (lv != lv) else lv
            yield pdf

    return parted.mapInPandas(_fill, schema=fill_schema).drop("_pid")


def grouped_bidi_fill(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    fill_col: str,
    fwd_col: str,
    bwd_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + BOTH fills from ONE range partitioning: ``fwd_col`` = last
    non-NULL ``fill_col`` at-or-before each row in (group, order)
    order, ``bwd_col`` = first non-NULL at-or-after (the exact
    mirror — ties resolve in reverse natural order). Two
    :func:`grouped_last_fill` calls shuffle and materialize the corpus
    twice (the reverse-direction call re-range-partitions the already
    filled frame); this computes both directions over one partitioned
    sort — at scale that is one corpus shuffle instead of two.

    NOTE the tie contract: a window `last(...) OVER (ORDER BY t DESC,
    tie ASC)` sees same-t rows in a DIFFERENT order than this mirror
    does. Callers whose tie semantics matter (interpolation's
    grid-on-data-point rule) must reconcile at the call site —
    interpolate_at patches the single divergent case (see its
    distributed path).

    Streaming: forward fill carries one value per batch; the backward
    fill holds back only rows whose next value hasn't arrived yet (the
    current null-run — for grid interpolation that is the gap between
    two data points, never the partition). Rows may be emitted out of
    batch order; row order of the result is unspecified, like any
    shuffle output.
    """
    import pandas as pd

    from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    g = list(group_by)
    _check_no_timestamp_carry(df, [fill_col])
    sort_exprs = [F.col(c) for c in g + list(order_by)]
    parted = (
        df.repartitionByRange(n_part, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    ftype = parted.schema[fill_col].dataType
    sum_schema = StructType(
        [StructField("_pid", IntegerType())]
        # trailing group + its last non-null (forward boundary seed)
        + [StructField("_t" + c, parted.schema[c].dataType) for c in g]
        + [StructField("_thas", BooleanType()), StructField("_tval", ftype)]
        # leading group + its first non-null (backward boundary seed)
        + [StructField("_l" + c, parted.schema[c].dataType) for c in g]
        + [StructField("_lhas", BooleanType()), StructField("_lval", ftype)]
    )

    def _summary(batches):
        import pandas as pd

        pid = None
        lead_g, lead_has, lead_val, lead_open = None, False, None, True
        trail_g, trail_has, trail_val = None, False, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
                lead_g = tuple(pdf[c].iloc[0] for c in g)
            # leading group's FIRST non-null: only while the leading
            # group run is still open and unresolved
            if lead_open and not lead_has:
                mask = pd.Series(True, index=pdf.index)
                for c, v in zip(g, lead_g):
                    mask &= pdf[c] == v
                if not mask.all():
                    lead_open = False
                nn = pdf.loc[mask, fill_col]
                nn = nn[nn.notna()]
                if len(nn):
                    lead_has, lead_val = True, nn.iloc[0]
            # trailing group's LAST non-null (same logic as
            # grouped_last_fill's summary)
            bg = tuple(pdf[c].iloc[-1] for c in g)
            if bg != trail_g:
                trail_g, trail_has, trail_val = bg, False, None
            mask = pd.Series(True, index=pdf.index)
            for c, v in zip(g, bg):
                mask &= pdf[c] == v
            nn = pdf.loc[mask, fill_col]
            nn = nn[nn.notna()]
            if len(nn):
                trail_val, trail_has = nn.iloc[-1], True
        if pid is not None:
            row = {"_pid": pid, "_thas": trail_has, "_tval": trail_val,
                   "_lhas": lead_has, "_lval": lead_val}
            for c, v in zip(g, trail_g):
                row["_t" + c] = v
            for c, v in zip(g, lead_g):
                row["_l" + c] = v
            yield pd.DataFrame([row], columns=[f.name for f in sum_schema.fields])

    rows = parted.mapInPandas(_summary, schema=sum_schema).collect()
    summaries = {
        r["_pid"]: (
            tuple(r["_t" + c] for c in g), r["_thas"], r["_tval"],
            tuple(r["_l" + c] for c in g), r["_lhas"], r["_lval"],
        )
        for r in rows
    }

    def _plain(v):
        return v.asDict(recursive=True) if hasattr(v, "asDict") else v

    fwd_boundary = {}
    cur_g, cur_v = None, None
    for pid in range(n_part + 1):
        fwd_boundary[pid] = (cur_g, cur_v)
        s = summaries.get(pid)
        if s is not None:
            tg, thas, tval = s[0], s[1], s[2]
            if tg != cur_g:
                cur_g, cur_v = tg, (_plain(tval) if thas else None)
            elif thas:
                cur_v = _plain(tval)
    bwd_boundary = {}
    cur_g, cur_v = None, None
    for pid in range(n_part - 1, -2, -1):
        bwd_boundary[pid] = (cur_g, cur_v)
        s = summaries.get(pid)
        if s is not None:
            lg, lhas, lval = s[3], s[4], s[5]
            if lg != cur_g:
                cur_g, cur_v = lg, (_plain(lval) if lhas else None)
            elif lhas:
                # this partition's first non-null PRECEDES anything in
                # later partitions — it wins for earlier rows
                cur_v = _plain(lval)

    fill_schema = StructType(
        list(parted.schema.fields)
        + [StructField(fwd_col, ftype), StructField(bwd_col, ftype)]
    )

    def _fill(batches):
        import pandas as pd

        first = True
        carry_g, carry_v = None, None  # forward carry
        pid = None
        pending = None  # rows awaiting a backward value (one group)
        pending_g = None

        def resolve(pend, value):
            pend = pend.copy()
            col = pend[bwd_col].astype(object)
            col.loc[:] = pd.Series([value] * len(pend), index=pend.index,
                                   dtype=object)
            pend[bwd_col] = col
            return pend

        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            if first:
                pid = int(pdf["_pid"].iloc[0])
                carry_g, carry_v = fwd_boundary.get(pid, (None, None))
                first = False
            # ---- forward fill (same as grouped_last_fill) ----
            filled = pdf.groupby(g, sort=False)[fill_col].ffill()
            if carry_g is not None and carry_v is not None:
                mask = filled.isna()
                for c, v in zip(g, carry_g):
                    mask &= pdf[c] == v
                if mask.any():
                    filled = filled.astype(object)
                    filled.loc[mask] = pd.Series(
                        [carry_v] * int(mask.sum()),
                        index=filled.index[mask], dtype=object,
                    )
            filled = filled.where(filled.notna(), None)
            pdf[fwd_col] = filled
            carry_g = tuple(pdf[c].iloc[-1] for c in g)
            lv = filled.iloc[-1]
            carry_v = None if lv is None or (lv != lv) else lv
            # ---- backward fill within batch ----
            bwd = pdf.groupby(g, sort=False)[fill_col].bfill()
            bwd = bwd.where(bwd.notna(), None)
            pdf[bwd_col] = bwd
            # resolve pending rows against this batch
            if pending is not None:
                bmask = pd.Series(True, index=pdf.index)
                for c, v in zip(g, pending_g):
                    bmask &= pdf[c] == v
                grows = pdf.loc[bmask, fill_col]
                nn = grows[grows.notna()]
                if len(nn):
                    yield resolve(pending, _plain(nn.iloc[0]))
                    pending, pending_g = None, None
                elif not bmask.all():
                    # the pending group ended inside the partition with
                    # no later value — backward fill is NULL
                    yield resolve(pending, None)
                    pending, pending_g = None, None
                # else: group spans this whole batch with no value —
                # keep pending (null-run continues)
            # rows whose backward value is still unknown: the trailing
            # null-run of the batch's last group
            unres = pdf[bwd_col].isna() if pdf[bwd_col].isna().any() else None
            if unres is not None:
                last_g = tuple(pdf[c].iloc[-1] for c in g)
                tmask = pd.Series(True, index=pdf.index)
                for c, v in zip(g, last_g):
                    tmask &= pdf[c] == v
                hold = pdf[bwd_col].isna() & tmask
                # null bwd rows of EARLIER groups within this batch are
                # final NULLs (their group ended in-batch)
                emit = pdf.loc[~hold]
                if len(emit):
                    yield emit
                held = pdf.loc[hold]
                if len(held):
                    if pending is None:
                        pending, pending_g = held, last_g
                    else:
                        pending = pd.concat([pending, held])
                continue
            yield pdf
        # partition end: pending rows resolve from the next partitions'
        # boundary seed
        if pending is not None:
            bg_g, bg_v = bwd_boundary.get(pid, (None, None))
            yield resolve(pending, bg_v if bg_g == pending_g else None)

    return parted.mapInPandas(_fill, schema=fill_schema).drop("_pid")
