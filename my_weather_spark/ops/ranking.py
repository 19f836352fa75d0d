"""Distributed exact twins of per-group windows (100 TB checklist).

A ranking, running or shift window partitioned by a hot key — or not
partitioned at all — sorts each key's whole history on one task. Every
scanner here keeps that sort parallel with one mechanism, the pin
(:func:`_pin`):

1. ``repartitionByRange`` on (group, order) — Spark samples range
   bounds, so each partition holds a contiguous, disjoint slice of the
   global order (skew-resistant: bounds adapt to the data) and a group
   spans adjacent partitions only;
2. ``sortWithinPartitions`` on the same keys, the partition id tagged
   as ``_pid``, checkpointed eagerly — the boundary pass and the main
   pass read the same partitions in the same row order.

What crosses partitions is tiny — one row per partition or per
(partition, group) — cumulated by a window over that table (numbering,
running sums) or on the driver (shift and fill boundaries), and
broadcast back. Row numbers come from a JVM projection over the
checkpoint scan; shifts, running sums and fills are one pandas pass
each, carrying state across Arrow batches.

Results are bit-identical to the window whenever the order columns
totally order the rows of a group (callers include a tie-breaker, as
they must for any deterministic window). ntile and percent_rank derive
from the rank arithmetically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType


def _pin(
    df: DataFrame, keys: list[Column], num_partitions: int | None
) -> tuple[DataFrame, int]:
    """(``df`` range-partitioned and sorted on ``keys``, tagged with
    ``_pid`` and checkpointed; the partition count).

    Every scanner reads the pinned frame at least twice — a boundary or
    count pass, then the main pass — and the sampled range bounds must
    not be re-derived between them.
    """
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    pinned = (
        df.repartitionByRange(n_part, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    return pinned, n_part


def _arrow_pass(pinned: DataFrame, kernel, new_cols: list) -> DataFrame:
    """``mapInPandas(kernel)`` emitting the pinned columns plus
    ``new_cols`` [(name, type)]."""
    fields = pinned.schema.fields + [StructField(n, t) for n, t in new_cols]
    return pinned.mapInPandas(kernel, schema=StructType(fields))


def _key_ops():
    """(eq, in_group) for the Arrow kernels that compare group keys.

    ``eq(a, b)`` is elementwise equality under which NULL equals NULL,
    as it does for a window's PARTITION BY: pandas renders NULL as
    NaN/None/NaT by dtype, and NaN != NaN. ``in_group(pdf, cols, key)``
    masks the rows whose ``cols`` equal the tuple ``key``. Built per
    call, so a kernel captures them by value: a Python worker need not
    be able to import this package.
    """
    import numpy as np
    import pandas as pd

    def eq(a, b):
        return (a == b) | (pd.isna(a) & pd.isna(b))

    def in_group(pdf, cols, key):
        mask = np.ones(len(pdf), dtype=bool)
        for c, v in zip(cols, key):
            mask &= eq(pdf[c].to_numpy(), v)
        return mask

    return eq, in_group


def _numbered(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    out_col: str,
    n_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(df + ``out_col``, the 1-based row number within the group in
    ``order_by`` order, + ``n_col``, the group size; the tiny
    per-(partition, group) offsets table, which carries ``n_col``).
    ``group_by=[]`` numbers the whole frame as one group.

    The pin makes each group a contiguous run of the global order, so
    a row's number is its index within its partition plus one offset
    per (partition, group): the group's rows in earlier partitions
    minus the earlier groups' rows in this partition. The index is
    ``monotonically_increasing_id() - (_pid << 33)`` — a narrow JVM
    projection straight over the checkpoint scan, whose partitions are
    the pinned ones. The offsets come from one COUNT per (partition,
    group), about n_groups + n_partitions rows, broadcast back. The
    group key is ``_pgk``, a non-null struct of the group columns:
    struct equality compares fields null-safely, so NULL-group rows
    keep their offsets (a raw-column equi-join would drop them).
    """
    from pyspark.sql.window import Window as W

    pinned, _ = _pin(df, [F.col(c) for c in group_by + order_by], num_partitions)
    key = ["_pid"]
    if group_by:
        pinned = pinned.withColumn("_pgk", F.struct(*group_by))
        key.append("_pgk")
    counts = pinned.groupBy(*key).agg(F.count(F.lit(1)).alias("_c"))
    before = (W.unboundedPreceding, -1)
    group = W.partitionBy(*key[1:])
    off = F.coalesce(
        F.sum("_c").over(group.orderBy("_pid").rowsBetween(*before)), F.lit(0)
    )
    if group_by:
        earlier = W.partitionBy("_pid").orderBy("_pgk").rowsBetween(*before)
        off = off - F.coalesce(F.sum("_c").over(earlier), F.lit(0))
    offsets = counts.select(
        *key, off.alias("_off"), F.sum("_c").over(group).alias(n_col)
    )
    index = F.monotonically_increasing_id() - F.shiftleft(
        F.col("_pid").cast("long"), 33
    )
    out = (
        pinned.withColumn(out_col, index)
        .join(F.broadcast(offsets), key)
        .withColumn(out_col, F.col(out_col) + F.col("_off") + 1)
        .drop(*key, "_off")
    )
    return out, offsets


def global_row_number(
    df: DataFrame,
    order_by: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """(df + ``out_col`` 1-based global row number, total row count).

    ``order_by`` must be a TOTAL order (include a tie-breaker) for a
    deterministic result. The total count rides along because every
    derived analytic (ntile, percent_rank) needs it; it is read off
    the tiny offsets table.
    """
    out, offsets = _numbered(df, [], order_by, out_col, "_n", num_partitions)
    total = offsets.agg(F.max("_n")).first()[0]
    return out.drop("_n"), int(total or 0)


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
    a straggler at 100 TB no matter how many executors exist. Here:

    1. the pin on (group, order) — the per-(partition, group) partials
       table has ~n_groups + n_partitions rows TOTAL (not n_groups x
       n_partitions);
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
    from pyspark.sql.window import Window as W

    pinned, _ = _pin(df, [F.col(c) for c in group_by + order_by], num_partitions)
    # `_pgk` is a non-null STRUCT of the group cols, so the offsets
    # aggregate and join keep NULL-group rows (see _numbered). It is
    # built by a plain projection over the pinned frame on each side —
    # never carried through the Arrow pass (struct cells cross pandas
    # as per-row dicts; measured ~20% wall on a 100k-row consumer) and
    # never as an eqNullSafe join condition (measured ~100x Catalyst
    # size-estimate inflation downstream, flipping consumers'
    # broadcast joins to sort-merge).
    partials = pinned.groupBy(
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
    _, in_group = _key_ops()

    def _cumsum(batches):
        # NULL group values are ordinary partitions to the window this
        # operator twins, so dropna=False keeps them in the cumsum and
        # the carry matches keys with in_group. NULL values are skipped
        # like the window's sum skips them: a row's sum is NULL only
        # while its group has seen no value yet, so sum the filled
        # values and count the non-NULL ones.
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
                # rows are sorted by group, so the rows continuing the
                # carried group are the batch's leading run
                mask = in_group(pdf, gcols, carry_key)
                run = len(pdf) if mask.all() else int(mask.argmin())
                local.iloc[:run] = local.iloc[:run] + carry_val
                seen.iloc[:run] = seen.iloc[:run] + carry_seen
            if len(pdf):
                carry_key = tuple(pdf[c].iloc[-1] for c in gcols)
                carry_val = local.iloc[-1]
                carry_seen = seen.iloc[-1]
            pdf["_local"] = local.where(seen > 0)
            yield pdf

    vtype = pinned.schema[value_col].dataType
    local = _arrow_pass(pinned, _cumsum, [("_local", vtype)])
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
    from pyspark.sql.types import TimestampNTZType, TimestampType

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


def _shift(
    df: DataFrame,
    group_by: list[str],
    order_by: list[str],
    cols: list[str],
    suffix: str,
    num_partitions: int | None,
    ascending: bool,
) -> DataFrame:
    """df + ``<col><suffix>`` columns: each ``cols`` value from the
    group's previous row in the pin, which sorts (group, order)
    ``ascending`` for lag, or descending for lead — the previous row
    in descending order is the next one in natural order (descending
    sorts NULLs last, so it is the exact reverse).

    The only rows whose predecessor lives in another partition are
    each partition's first rows, and their predecessors are the last
    rows of the nearest non-empty earlier partitions: the max struct
    of (group, order, cols) per partition under an ascending pin, the
    min struct under a descending one (struct comparison is
    lexicographic in field order, NULLs first). Those rows, one per
    partition, are collected, carried forward past empty range
    partitions on the driver, and broadcast into a per-partition Arrow
    shift that carries the last row across batches.
    """
    import numpy as np

    _check_no_timestamp_carry(df, cols)
    g = list(group_by)
    keys = [F.col(c) for c in g + list(order_by)]
    pinned, n_part = _pin(
        df, keys if ascending else [k.desc() for k in keys], num_partitions
    )
    edge = F.max if ascending else F.min
    last = {
        r["_pid"]: r["_e"].asDict()
        for r in pinned.groupBy("_pid")
        .agg(edge(F.struct(*keys, *[F.col(c) for c in cols])).alias("_e"))
        .collect()
    }
    seed, prev = {}, None
    for pid in range(n_part):
        seed[pid] = prev
        prev = last.get(pid, prev)
    eq, _ = _key_ops()

    def _kernel(batches):
        pid = prev = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
                prev = seed.get(pid)
            same = np.ones(len(pdf), dtype=bool)
            for c in g:
                v = pdf[c].to_numpy()
                same[1:] &= eq(v[1:], v[:-1])
                same[0] &= prev is not None and bool(eq(prev[c], v[0]))
            for c in cols:
                v = pdf[c].to_numpy()
                out = np.empty(len(pdf), dtype=object)
                out[1:] = v[:-1]
                out[0] = None if prev is None else prev[c]
                out[~same] = None
                pdf[c + suffix] = out
            prev = {c: pdf[c].iloc[-1] for c in g + cols}
            yield pdf

    new_cols = [(c + suffix, pinned.schema[c].dataType) for c in cols]
    return _arrow_pass(pinned, _kernel, new_cols).drop("_pid")


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
    task; here one boundary row per partition crosses partitions (see
    :func:`_shift`). ``order_by`` must be all-ascending and total
    within a group for a deterministic result — the same contract as
    the window it replaces.
    """
    return _shift(df, group_by, order_by, lag_cols, suffix, num_partitions, True)


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
    end-extension / staircase shape: every per-series ``lead(ts)``):
    the same shift over the reversed pin.
    """
    return _shift(df, group_by, order_by, lead_cols, suffix, num_partitions, False)


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
    is a straggler at 100 TB. Distributed shape (:func:`_numbered`):
    ONE pinned sort on (group, *order_by), each row's index within its
    partition from a JVM projection, plus a per-(partition, group)
    offset broadcast back. A NULL group is one group, as in the
    window. ``order_by`` must total-order rows WITHIN a group (include
    a tie-breaker), exactly as for any deterministic ranking.
    """
    out, _ = _numbered(df, [group_col], order_by, out_col, n_col, num_partitions)
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
    global sort (grouped_row_number, which carries the group size on
    every row), then each row keeps the ps whose target rank it holds
    — ceil via pure integer math ((p*n + 99) div 100), portable across
    engines. No join.

    Rows with a NULL group or NULL value are the caller's problem:
    NULL-group rows are dropped (as the SQL replay's equality join
    drops them), and NULLs in ``value_col`` sort first under Spark's
    ascending order but LAST in most SQL engines — filter them out
    before calling if the column is nullable.
    """
    for p in ps:
        if not (isinstance(p, int) and 1 <= p <= 100):
            raise ValueError(f"percentiles must be ints in 1..100, got {p!r}")
    ranked = grouped_row_number(
        df.select(group_col, value_col, id_col).where(F.col(group_col).isNotNull()),
        group_col,
        [value_col, id_col],
        "grn",
        "n_group",
        num_partitions,
    )
    each_p = F.explode(F.array(*[F.lit(p) for p in ps])).alias("p")
    target = F.floor((F.col("p").cast("long") * F.col("n_group") + 99) / 100)
    return (
        ranked.select(group_col, value_col, "grn", "n_group", each_p)
        .where(F.col("grn") == target)
        .select(group_col, "p", value_col)
    )


def _plain(v):
    """A collected Row (struct fill col) as a plain dict, so an Arrow
    pass can emit it back as a struct value."""
    return v.asDict(recursive=True) if hasattr(v, "asDict") else v


def _seeds(edges: dict, pids, same) -> dict:
    """pid -> (group, value) that each partition inherits from the
    partitions before it in ``pids`` order; ``edges`` maps the
    non-empty ones to (edge group, has a value, that value), and
    ``same`` compares two group tuples."""
    seeds, cur_g, cur_v = {}, None, None
    for pid in pids:
        seeds[pid] = (cur_g, cur_v)
        if pid in edges:
            eg, has, ev = edges[pid]
            if not same(eg, cur_g):
                cur_g, cur_v = eg, (_plain(ev) if has else None)
            elif has:
                cur_v = _plain(ev)
    return seeds


def _fills(
    df: DataFrame,
    group_by: list[str],
    keys: list[Column],
    fill_col: str,
    fwd_col: str,
    bwd_col: str | None,
    num_partitions: int | None,
) -> DataFrame:
    """df + ``fwd_col`` — the last non-NULL ``fill_col`` at-or-before
    each row of its group in the pinned ``keys`` order — and, unless
    ``bwd_col`` is None, ``bwd_col`` — the first non-NULL at-or-after.

    One summary Arrow pass emits a single row per partition: its
    trailing group with that group's last non-NULL value, and its
    leading group with that group's first non-NULL value. The driver
    cumulates those rows into a seed per partition — forward over the
    trailing edges, backward over the leading ones — and a second
    Arrow pass fills per group, carrying the forward value across
    batches and holding back the rows whose backward value has not
    arrived yet (the current NULL run, never the partition). Held rows
    are emitted late, so the row order of the result is unspecified,
    like any shuffle output.
    """
    import pandas as pd

    g = list(group_by)
    _check_no_timestamp_carry(df, [fill_col])
    pinned, n_part = _pin(df, keys, num_partitions)
    ftype = pinned.schema[fill_col].dataType
    fields = [StructField("_pid", IntegerType())]
    for e in ("_t", "_l"):  # trailing edge, leading edge
        fields += [StructField(e + c, pinned.schema[c].dataType) for c in g]
        fields += [StructField(e + "has", BooleanType()), StructField(e + "val", ftype)]
    edge_schema = StructType(fields)
    eq, in_group = _key_ops()

    def same(k1, k2):
        # group tuples, NULL equal to NULL; None is "no group yet"
        return k2 is not None and all(bool(eq(a, b)) for a, b in zip(k1, k2))

    def _edges(batches):
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
                lead_g, lead_has, lead_val, lead_open = (
                    tuple(pdf[c].iloc[0] for c in g), False, None, True
                )
                trail_g = None
            # leading group's FIRST non-NULL, while its run is open
            if lead_open and not lead_has:
                mask = in_group(pdf, g, lead_g)
                lead_open = bool(mask.all())
                nn = pdf.loc[mask, fill_col].dropna()
                if len(nn):
                    lead_has, lead_val = True, nn.iloc[0]
            # trailing group's LAST non-NULL
            bg = tuple(pdf[c].iloc[-1] for c in g)
            if not same(bg, trail_g):
                trail_g, trail_has, trail_val = bg, False, None
            nn = pdf.loc[in_group(pdf, g, bg), fill_col].dropna()
            if len(nn):
                trail_has, trail_val = True, nn.iloc[-1]
        if pid is not None:
            row = {"_pid": pid, "_thas": trail_has, "_tval": trail_val,
                   "_lhas": lead_has, "_lval": lead_val}
            row.update(zip(["_t" + c for c in g], trail_g))
            row.update(zip(["_l" + c for c in g], lead_g))
            yield pd.DataFrame([row], columns=edge_schema.names)

    rows = pinned.mapInPandas(_edges, schema=edge_schema).collect()

    def _edge(e):
        return {
            r["_pid"]: (tuple(r[e + c] for c in g), r[e + "has"], r[e + "val"])
            for r in rows
        }

    fwd_seed = _seeds(_edge("_t"), range(n_part), same)
    bwd_seed = _seeds(_edge("_l"), reversed(range(n_part)), same)

    def _fill(batches):
        def resolve(held, value):
            held = held.copy()
            held[bwd_col] = pd.Series(
                [value] * len(held), index=held.index, dtype=object
            )
            return held

        pid = pending = pending_g = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
                carry_g, carry_v = fwd_seed.get(pid, (None, None))
            filled = pdf.groupby(g, sort=False, dropna=False)[fill_col].ffill()
            if carry_g is not None and carry_v is not None:
                # sorted by group, so rows matching the carried group
                # are the leading run; NULLs there predate any value
                mask = filled.isna().to_numpy() & in_group(pdf, g, carry_g)
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
            pdf[fwd_col] = filled
            carry_g = tuple(pdf[c].iloc[-1] for c in g)
            lv = filled.iloc[-1]
            carry_v = None if lv is None or (lv != lv) else lv
            if bwd_col is None:
                yield pdf
                continue
            bwd = pdf.groupby(g, sort=False, dropna=False)[fill_col].bfill()
            pdf[bwd_col] = bwd.where(bwd.notna(), None)
            if pending is not None:
                nn_mask = in_group(pdf, g, pending_g)
                nn = pdf.loc[nn_mask, fill_col].dropna()
                if len(nn):
                    yield resolve(pending, nn.iloc[0])
                    pending = None
                elif not nn_mask.all():
                    # the pending group ended inside the partition with
                    # no later value — its backward fill is NULL
                    yield resolve(pending, None)
                    pending = None
                # else: the group spans this whole batch with no value
            # hold the trailing NULL run of the batch's last group; NULL
            # rows of earlier groups are final (their group ended here)
            hold = pdf[bwd_col].isna().to_numpy() & in_group(pdf, g, carry_g)
            if not hold.any():
                yield pdf
                continue
            if not hold.all():
                yield pdf.loc[~hold]
            if pending is None:
                pending, pending_g = pdf.loc[hold], carry_g
            else:
                pending = pd.concat([pending, pdf.loc[hold]])
        # partition end: held rows resolve from the later partitions'
        # seed
        if pending is not None:
            seed_g, seed_v = bwd_seed.get(pid, (None, None))
            yield resolve(pending, seed_v if same(pending_g, seed_g) else None)

    new_cols = [(fwd_col, ftype)] + ([(bwd_col, ftype)] if bwd_col else [])
    return _arrow_pass(pinned, _fill, new_cols).drop("_pid")


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

    Shape: see :func:`_fills` — the pin on (group, order cols with
    direction), one summary row per partition, driver-cumulated seeds,
    one fill pass. No per-key history ever serializes through one
    task.

    Contracts: NULL (not NaN) marks missing in ``fill_col`` (wrap
    doubles in a struct — as-of/interpolation already fill whole
    structs so (ts, value) pair from the same row); a NULL group key
    is one group, as in the window's PARTITION BY; (group, order) need
    not be unique, but ties make the fill nondeterministic exactly as
    they do for the window it replaces.
    """
    asc = ascending or [True] * len(order_by)
    keys = [F.col(c) for c in group_by] + [
        F.col(c).asc() if a else F.col(c).desc() for c, a in zip(order_by, asc)
    ]
    out_col = out_col or fill_col + "_ff"
    return _fills(df, group_by, keys, fill_col, out_col, None, num_partitions)


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
    filled frame); this computes both directions over one pinned sort
    (:func:`_fills`) — at scale that is one corpus shuffle instead of
    two.

    NOTE the tie contract: a window `last(...) OVER (ORDER BY t DESC,
    tie ASC)` sees same-t rows in a DIFFERENT order than this mirror
    does. Callers whose tie semantics matter (interpolation's
    grid-on-data-point rule) must reconcile at the call site —
    interpolate_at patches the single divergent case (see its
    distributed path).
    """
    keys = [F.col(c) for c in list(group_by) + list(order_by)]
    return _fills(df, group_by, keys, fill_col, fwd_col, bwd_col, num_partitions)
