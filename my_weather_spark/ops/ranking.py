"""The hand-written scanners that beat their window on a hot key.

A ranking or range-frame window partitioned by a hot key — or not
partitioned at all — sorts each key's whole history on one task. The
scanners here measured faster than that window on one group of 5 M and
of 10 M rows on 4 cores (``scripts/skew_probe.py``, readings committed
in ``SKEW_r24.json``; each docstring quotes its pair):

- :func:`global_row_number` and :func:`grouped_exact_percentiles` keep
  the sort parallel with one mechanism, the pin (:func:`_pin`):
  ``repartitionByRange`` on (group, order) — Spark samples range
  bounds, so each partition holds a contiguous, disjoint slice of the
  global order and a group spans adjacent partitions only — then
  ``sortWithinPartitions`` on the same keys, the partition id tagged
  as ``_pid``, checkpointed eagerly. A row's number is its index in
  its partition (a JVM projection over the checkpoint scan) plus one
  offset per (partition, group), cumulated by a window over that tiny
  table and broadcast back. ntile and percent_rank derive from the
  rank arithmetically.
- :func:`sliding_range_count` never sorts a key's history at all: it
  counts through per-bin prefix sums and bin-bounded window
  partitions.

Shift, running-sum, fill and per-group row-number windows have no
scanner here: on the same hot key the hand-written twins measured
slower than the window, or than ``row_number`` with a ``groupBy``
count, so callers use the window.

Results are bit-identical to the window whenever the order columns
totally order the rows of a group (callers include a tie-breaker, as
they must for any deterministic window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pin(df: DataFrame, keys: list[Column], num_partitions: int | None) -> DataFrame:
    """``df`` range-partitioned and sorted on ``keys``, tagged with
    ``_pid`` and checkpointed.

    The numbering reads the pinned frame twice — a count pass, then
    the main pass — and the sampled range bounds must not be
    re-derived between them.
    """
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(n_part, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


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

    pinned = _pin(df, [F.col(c) for c in group_by + order_by], num_partitions)
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

    Twins ``row_number() OVER (ORDER BY ...)``, which sorts every row
    on one task. Best of 3 on 4 cores (``SKEW_r24.json``,
    ``global_row_number``): 5 M rows, window 3.58 s against 2.90 s
    here; 10 M rows, 8.87 s against 5.99 s.

    ``order_by`` must be a TOTAL order (include a tie-breaker) for a
    deterministic result. The total count rides along because every
    derived analytic (ntile, percent_rank) needs it; it is read off
    the tiny offsets table.
    """
    out, offsets = _numbered(df, [], order_by, out_col, "_n", num_partitions)
    total = offsets.agg(F.max("_n")).first()[0]
    return out.drop("_n"), int(total or 0)


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
    key). One hot group, 600 s frame, best of 3 on 4 cores
    (``SKEW_r24.json``, ``sliding_range_count``): 5 M rows, window
    46.8 s against 22.1 s here; 10 M rows, 117.8 s against 50.0 s.
    The decomposition is the textbook one: ``count[s-p, s] = cum(s) -
    cum(s - p - 1)`` where each ``cum`` is (cumulative count through
    the end of the PREVIOUS time bin) + (rows inside the boundary bin
    up to the point). Bin-level cumulative counts come from a running
    ``sum`` window over a densified (group, bin) table (~time_span /
    bin_size rows per group — tiny, checkpointed so its subtree runs
    once for both boundary lookups); the within-bin remainders come
    from ONE merge-scan: real rows and two per-row phantom probes (one
    at ``sec``, one at ``sec - p - 1``) union into a single frame,
    partitioned by (group, bin) and sorted by value with reals before
    phantoms on ties, and a running ``sum(is_real)`` window reads off
    "rows in this bin <= v" at every phantom position. One exchange of
    ~3x the row count, zero fanout. Per-(group, bin) window partitions
    are bounded by one bin's rows — no per-key history ever serializes
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
    # null-safely) built ONCE here over the checkpointed rows and
    # CARRIED through the tiny tables in USING-join form. The
    # formulation is deliberate: an eqNullSafe join condition, or a
    # struct built fresh at each join side, measured a 10^2–10^6x
    # inflation of Catalyst's size estimate for the cum table, flipping
    # the _base joins below from broadcast to sort-merge (full
    # probe-side exchanges); this shape keeps the estimate at ~2 MiB
    # (sf0.1) and the broadcasts intact — see
    # plans/r12/w5_sliding_count_scaled_*.
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
    )
    # The checkpoint lets both _base consumers share the tiny cum table
    # and captures its REAL size, so the planner broadcast-joins it in
    # the initial plan; un-checkpointed, both _base joins planned as
    # SortMergeJoin with a full probe-side Exchange each
    # (plans/r12/w5_sliding_count_scaled_fused.txt).
    w_cum = W.partitionBy("_gk").orderBy("_b2").rowsBetween(W.unboundedPreceding, 0)
    cum_end = dense.select(
        "_gk", "_b2", F.sum("_c").over(w_cum).alias("_cum")
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
        # null-safe via the struct key CARRIED from the checkpointed
        # rows (fresh-building it on this side would inflate the
        # estimate and break the broadcast — see the comment above
        # `binned`); the probe side builds its struct fresh, which is
        # harmless: only the build (ce) side's estimate drives the join
        # strategy.
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


def ntile_col_expr(rank_col: str, total_col: str, k: int) -> Column:
    """``ntile_expr`` with a per-row total COLUMN (per-group ntile
    from a per-group rank + group size). Same arithmetic:
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
    group on one task and ``approx_percentile`` is not oracle-exact;
    the window form (``row_number`` + ``count`` per group, keep the
    target ranks) sorts the group on one task. One hot group, best of
    3 on 4 cores (``SKEW_r24.json``, ``grouped_exact_percentiles``):
    5 M rows, window 4.58 s against 2.81 s here; 10 M rows, 8.96 s
    against 6.43 s. This shape is one ranged global sort
    (:func:`_numbered`, which carries the group size on every row),
    then each row keeps the ps whose target rank it holds — ceil via
    pure integer math ((p*n + 99) div 100), portable across engines.
    No join.

    Rows with a NULL group or NULL value are the caller's problem:
    NULL-group rows are dropped (as the SQL replay's equality join
    drops them), and NULLs in ``value_col`` sort first under Spark's
    ascending order but LAST in most SQL engines — filter them out
    before calling if the column is nullable.
    """
    for p in ps:
        if not (isinstance(p, int) and 1 <= p <= 100):
            raise ValueError(f"percentiles must be ints in 1..100, got {p!r}")
    ranked, _ = _numbered(
        df.select(group_col, value_col, id_col).where(F.col(group_col).isNotNull()),
        [group_col],
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
