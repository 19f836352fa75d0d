"""TsStore — parquet-backed timeseries store with merge-on-write.

Reference behavior being re-expressed (NOT ported): the DTSS container
store holds binary ts files per repo directory and ``store_ts(...,
overwrite_on_write=False)`` merges new points into existing series —
storing [t0..t3]=1,2,3 then [t3..t6]=4,5,6 yields 1..6
(reference: weather/service/dtss_host.py:141-151, semantics proven at
weather/test/test_dtss_host.py:102-134).

Spark-native design:
* one parquet dataset, long format (series_id, ts, value, ingest_time),
  hive-partitioned by (source, date). ``source`` is the store repo name
  (the container analog), ``date`` the UTC day of ``ts`` — so period
  filters prune partitions and a 100 TB store scans only the touched
  days.
* merge-on-write = read back only the PARTITIONS overlapping the
  incoming batch, union, keep newest ingest per (series_id, ts) via a
  deterministic row_number, and dynamically overwrite just those
  partitions. At scale this is the standard copy-on-write upsert
  pattern (Delta/Hudi MERGE without the table format).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

from my_weather_spark.model import OBSERVATION_SCHEMA, UtcPeriod
from my_weather_spark.ops.timeseries import merge_dedup, period_filter
from my_weather_spark.session import checkpoint, local_frame

PARTITION_COLS = ["source", "date"]


def ensure_utc_session(spark: SparkSession) -> None:
    """Pin the session timezone to UTC (dynamically settable).

    The store's ``date`` partition is defined as the UTC day of ``ts``,
    and the rollup layer derives partition dates from UTC-aligned
    bucket starts — both via ``to_date``, which follows the SESSION
    timezone. A non-UTC session would write rows into local-date
    partitions and make date-keyed refreshes overwrite the wrong
    partition, so every write/refresh path sets this defensively —
    and FAILS LOUDLY if a locked-down session refused the set, because
    proceeding would silently corrupt date partitioning (same
    verify-or-raise contract as tables._ensure_reader_conf)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        raise RuntimeError(
            f"session timeZone is {tz!r} and could not be set to UTC; "
            "store date partitioning would be wrong — run with a session "
            "that allows spark.sql.session.timeZone=UTC"
        )


def _mode_gap(entries: Column) -> Column:
    """The spacing with the largest total count in ``entries`` (an
    array of (key=spacing, value=count) structs, a spacing may repeat),
    the smallest on a tie — dt_mode's rule — or NULL when no entry has
    a spacing >= 0. One pass over the sorted entries sums each run of
    equal spacings and keeps the first largest run."""
    runs = F.array_sort(F.filter(entries, lambda e: e["key"] >= 0))

    def step(a, e):
        same = e["key"] == a["k"]
        ended = ~same & (a["n"] > a["best_n"])  # NULL at the first entry
        return F.struct(
            e["key"].alias("k"),
            F.when(same, a["n"] + e["value"]).otherwise(e["value"]).alias("n"),
            F.when(ended, a["k"]).otherwise(a["best"]).alias("best"),
            F.when(ended, a["n"]).otherwise(a["best_n"]).alias("best_n"),
        )

    long0, null = F.lit(0).cast("long"), F.lit(None).cast("long")
    zero = F.struct(
        null.alias("k"), long0.alias("n"), null.alias("best"), long0.alias("best_n")
    )
    return F.aggregate(
        runs,
        zero,
        step,
        lambda a: F.when(a["n"] > a["best_n"], a["k"]).otherwise(a["best"]),
    )


class TsStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._v2 = False  # sidecar seen or written with v2 columns

    # -- helpers --------------------------------------------------------
    def _exists(self) -> bool:
        # Use the JVM Hadoop FS (works for any scheme, not just file://).
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        conf = jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    def _read_all(self) -> DataFrame:
        # Explicit schema: an existing-but-empty store directory (fresh
        # mkdtemp, or all partitions deleted) must read as an empty
        # DataFrame, not fail schema inference.
        return self.spark.read.schema(self._full_schema()).parquet(self.path)

    @staticmethod
    def _with_partitions(df: DataFrame, source: str) -> DataFrame:
        return df.withColumn("source", F.lit(source)).withColumn(
            "date", F.to_date("ts")
        )

    # -- S3: store scan ---------------------------------------------------
    def scan(
        self,
        series_ids: list[str] | None = None,
        period: UtcPeriod | None = None,
        source: str | None = None,
    ) -> DataFrame:
        """Read observations; filters push down to parquet row groups
        and (source, date) partition pruning."""
        df = self._read_all()
        if source is not None:
            df = df.where(F.col("source") == source)
        if period is not None:
            # date-partition pruning + row-group predicate
            df = df.where(
                (F.col("date") >= F.lit(period.start.date()))
                & (F.col("date") <= F.lit(period.end.date()))
            )
            df = period_filter(df, period)
        if series_ids is not None:
            if len(series_ids) <= 200:
                # small vectors: IN-list constant-folds into the scan
                df = df.where(F.col("series_id").isin(series_ids))
            else:
                # large vectors: a giant IN-list bloats the plan and
                # never pushes down — broadcast semi-join instead
                ids = local_frame(
                    self.spark, [(s,) for s in set(series_ids)], "series_id string"
                )
                df = df.join(F.broadcast(ids), "series_id", "left_semi")
        return df.select("series_id", "ts", "value", "ingest_time")

    def _full_schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            OBSERVATION_SCHEMA.fields
            + [T.StructField("source", T.StringType()), T.StructField("date", T.DateType())]
        )

    # -- S6/U2: merge-on-write sink --------------------------------------
    def store(
        self,
        df: DataFrame,
        source: str = "default",
        overwrite_on_write: bool = False,
        ingest_time: datetime | None = None,
    ) -> int:
        """Write observations. ``overwrite_on_write=False`` (the
        reference default) merges: existing points at the same
        (series_id, ts) are replaced by the newest ingest, all other
        existing points are kept.

        Returns the number of rows in ``df``, duplicates included,
        counted by the job that materializes the batch: ``df`` is
        evaluated once, so a caller hands its source read straight in.
        """
        ensure_utc_session(self.spark)
        it = ingest_time or datetime.now(tz=timezone.utc)
        if "ingest_time" not in df.columns:
            df = df.withColumn("ingest_time", F.lit(it))
        else:
            # Rows arriving with a NULL ingest_time (e.g. a landing file
            # read through OBSERVATION_SCHEMA) must still be stamped —
            # desc(ingest_time) sorts NULLS LAST, so an unstamped row
            # would permanently lose every merge tie to older data.
            df = df.withColumn(
                "ingest_time", F.coalesce(F.col("ingest_time"), F.lit(it))
            )
        incoming = self._with_partitions(
            df.select("series_id", "ts", "value", "ingest_time"), source
        )
        # Collapse intra-batch duplicate (series_id, ts) rows ONCE and
        # materialize: the data write and the catalog summary both
        # consume the survivors (each used to re-run the window), and no
        # later step re-runs the caller's frame. Pre-deduping the batch
        # before the merge-path union is equivalent: the survivor is the
        # max under a total order (ingest_time desc, value desc), so
        # dropping batch-local losers first cannot change the combined
        # winner. The same job observes the batch's dates: a batch
        # carries one literal source, so its touched (source, date)
        # partitions are known on the driver with no further job, and
        # so is the input row count, observed below the window.
        counted = Observation()
        deduped, n_kept, seen = checkpoint(
            merge_dedup(incoming.observe(counted, F.count(F.lit(1)).alias("n"))),
            _dates=F.collect_set("date"),
        )
        # A batch the optimizer proves empty loses that observation with
        # its subtree; any input row leaves a survivor.
        n_rows = counted.get["n"] if n_kept else 0
        dates = sorted(seen["_dates"])

        if not self._exists():
            deduped.write.partitionBy(*PARTITION_COLS).mode(
                "overwrite"
            ).parquet(self.path)
            # fresh=True: a sidecar found beside a store that does NOT
            # exist is necessarily stale (the store was deleted out of
            # band) — overwrite it with just this batch instead of
            # merging ghost series into a brand-new store's catalog.
            self._update_catalog(deduped, source, dates, fresh=True)
            return n_rows

        if overwrite_on_write:
            # Replace whole series: drop ALL existing rows of the
            # incoming series ids (any date), keep other series. This
            # rewrites the dataset (static overwrite) — the rare path;
            # the reference default is merge. The ids come from the
            # batch checkpoint, not the caller's frame (a second read of
            # a landing file).
            keep = self._read_all().join(
                F.broadcast(deduped.select("series_id").distinct()),
                "series_id",
                "left_anti",
            )
            out = deduped.unionByName(keep.select(*incoming.columns))
            out = out.localCheckpoint(eager=True)
            out.write.partitionBy(*PARTITION_COLS).option(
                "partitionOverwriteMode", "static"
            ).mode("overwrite").parquet(self.path)
            self._update_catalog(deduped, source, dates, replace=True)
            return n_rows

        # Merge path: only read the partitions the batch touches, pruned
        # by literal (source, date) filters at planning time.
        existing = self._read_all().where(self._touched(source, dates))
        out = merge_dedup(deduped.unionByName(existing))
        # Write to the final location with dynamic partition overwrite
        # (scoped per-write option, not session-global conf). The union
        # plan reads the parquet files being overwritten, so materialize
        # through a staging dataframe first (local checkpoint breaks the
        # lineage to the input files).
        out = out.localCheckpoint(eager=True)
        out.write.partitionBy(*PARTITION_COLS).option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(self.path)
        # catalog rows for the touched partitions recompute from the
        # checkpointed post-merge content (out), not the batch alone:
        # a replaced point's old stats must leave the sidecar too
        self._update_catalog(out, source, dates)
        return n_rows

    @staticmethod
    def _touched(source: str, dates: list) -> Column:
        """The (source, date) partitions a batch touches, as a literal
        predicate: it prunes partitions statically, with no join."""
        # NULL-safe: ``~_touched`` keeps a NULL-date row, as the
        # anti-join it replaces did.
        return (
            (F.col("source") == F.lit(source))
            & F.col("date").isNotNull()
            & F.col("date").isin(dates)
        )

    # -- catalog sidecar ---------------------------------------------------
    # One row per (series_id, source, date) — the exact unit the data
    # path rewrites — holding data_period_start/end, created, modified,
    # n_points and dt_hist (the within-partition histogram of
    # microsecond point spacings). Maintained at store() time by
    # RECOMPUTING the touched partitions' rows from the post-merge data
    # (idempotent: same landed data -> same stats) and keeping every
    # other row, so find(fast=True) answers the reference's TsInfo
    # fields — INCLUDING n_points and delta_t — in O(catalog rows)
    # instead of scanning the data (at 100 TB a find() scan reads every
    # partition). Cross-partition spacings are reconstructed at read
    # time from consecutive rows' (max_ts, next min_ts); see find().
    # The sidecar is hive-partitioned by ``source``, and the hot path —
    # the merge-mode store() that a micro-batch cadence hits every
    # cycle — rewrites ONLY the touched source's partition (dynamic
    # partition overwrite, one file, no exchange): it reads that one
    # partition and drops the touched dates' rows by a literal filter
    # built from the batch's observed dates, so per-cycle catalog work
    # is O(series-dates in that source), not O(the whole store). The
    # rare whole-catalog rewrites (whole-series replace, fresh store,
    # legacy-layout migration) use a static overwrite, which also
    # clears pre-partitioning flat files. The sidecar lives BESIDE the
    # data root, not inside it: the whole-series replace path writes
    # the dataset with a STATIC overwrite, which truncates everything
    # under the root — a nested sidecar would be wiped mid-update. The
    # sidecar is derived state: a torn write is repaired by
    # rebuild_catalog(), never by trusting it blindly; a pre-v2 sidecar
    # (per-series grain, no stats columns) triggers the same
    # rebuild-from-data migration. Only this class writes the sidecar
    # and it always writes v2, so once a TsStore has seen (or written)
    # a v2 sidecar it stops re-reading the parquet footers to ask.
    @property
    def _catalog_path(self) -> str:
        return self.path.rstrip("/") + "_catalog"

    def _catalog_exists(self) -> bool:
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self._catalog_path)
        return p.getFileSystem(conf).exists(p)

    # Distinct-spacing cap per (series, source, date) sidecar row: a
    # REGULAR series carries 1-5 distinct spacings per day; an
    # IRREGULAR one (event streams, random timestamps) approaches one
    # per point, which would grow the sidecar toward data size at
    # 100 TB. Above the cap the histogram is dropped (NULL); find(fast)
    # then recovers delta_t via the pruned exact-scan fallback (the
    # r8 default) or reports NULL with exact_fallback=False — the
    # reference's metadata find() reports NaN delta_t always, so the
    # zero-read NULL remains reference-faithful.
    DT_HIST_CAP = 1024

    @classmethod
    def _summarize(cls, df: DataFrame) -> DataFrame:
        """Per-(series_id, source, date) sidecar rows from landed data:
        period min/max, ingest min/max, n_points (non-null values, the
        exact path's count("value")), n_spacings (distinct spacing
        count) and dt_hist — the histogram of microsecond spacings
        between consecutive ts WITHIN the partition (NULL for
        single-point partitions and above DT_HIST_CAP). One row per
        (partition key, spacing) carries the partial stats too, so the
        lag window's exchange is the only one: both aggregates key on
        its partition columns."""
        keys = ["series_id", "source", "date"]
        w = W.partitionBy(*keys).orderBy("ts")
        per_gap = (
            df.withColumn(
                "_gap", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            )
            .groupBy(*keys, "_gap")
            .agg(
                F.min("ts").alias("_t0"),
                F.max("ts").alias("_t1"),
                F.min("ingest_time").alias("_i0"),
                F.max("ingest_time").alias("_i1"),
                F.count("value").alias("_nv"),
                F.count(F.lit(1)).cast("long").alias("_n"),
            )
        )
        stats = per_gap.groupBy(*keys).agg(
            F.min("_t0").alias("data_period_start"),
            F.max("_t1").alias("data_period_end"),
            F.min("_i0").alias("created"),
            F.max("_i1").alias("modified"),
            F.sum("_nv").cast("long").alias("n_points"),
            F.count("_gap").cast("long").alias("n_spacings"),
            F.map_from_entries(
                F.collect_list(
                    F.when(F.col("_gap").isNotNull(), F.struct("_gap", "_n"))
                )
            ).alias("_full_hist"),
        )
        n = F.col("n_spacings")
        return stats.withColumn(
            "dt_hist",
            F.when((n > 0) & (n <= cls.DT_HIST_CAP), F.col("_full_hist")),
        ).drop("_full_hist")

    def _catalog_schema(self):
        from pyspark.sql import types as T

        return T.StructType(
            [
                T.StructField("series_id", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("date", T.DateType()),
                T.StructField("data_period_start", T.TimestampType()),
                T.StructField("data_period_end", T.TimestampType()),
                T.StructField("created", T.TimestampType()),
                T.StructField("modified", T.TimestampType()),
                T.StructField("n_points", T.LongType()),
                T.StructField("n_spacings", T.LongType()),
                T.StructField(
                    "dt_hist", T.MapType(T.LongType(), T.LongType())
                ),
            ]
        )

    def _catalog_is_v2(self) -> bool:
        """True when the on-disk sidecar carries the v2 per-date stats
        columns; a v1 sidecar (per-series grain) reads as stale and is
        rebuilt from data. The schema inference runs a footer-reading
        job, so a positive answer is kept: migration is one-way."""
        if not self._v2:
            try:
                names = set(
                    self.spark.read.parquet(self._catalog_path).schema.fieldNames()
                )
            except Exception:
                return False
            self._v2 = {"date", "n_points", "n_spacings", "dt_hist"} <= names
        return self._v2

    def _catalog_is_partitioned(self) -> bool:
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self._catalog_path)
        fs = p.getFileSystem(conf)
        for st in fs.listStatus(p):
            if st.getPath().getName().startswith("source="):
                return True
        return False

    def _read_catalog(self) -> DataFrame:
        return self.spark.read.schema(self._catalog_schema()).parquet(
            self._catalog_path
        )

    def _write_catalog(self, df: DataFrame, dynamic: bool) -> None:
        # the overwrite reads the files being replaced — cut lineage.
        # One file per source partition (a partition holds at most one
        # row per series-date): a dynamic write carries one source, so
        # it coalesces to one task; a static rewrite hashes by source.
        df = df.localCheckpoint(eager=True)
        df = df.coalesce(1) if dynamic else df.repartition("source")
        mode = "dynamic" if dynamic else "static"
        df.write.partitionBy("source").option(
            "partitionOverwriteMode", mode
        ).mode("overwrite").parquet(self._catalog_path)
        self._v2 = True

    def _update_catalog(
        self,
        landed: DataFrame,
        source: str,
        dates: list,
        replace: bool = False,
        fresh: bool = False,
    ) -> None:
        # ``landed`` is what the data write actually landed for the
        # partitions it rewrote: the checkpointed post-merge content of
        # the touched (source, date) partitions on the merge path, or
        # the deduped batch on the fresh/replace paths (where the batch
        # IS the complete new content of its series). Recomputing the
        # touched rows from landed data — instead of monotone-merging
        # summaries — keeps every stat exact under point replacement
        # (a replaced row's old ingest_time/spacing must not linger)
        # and stays idempotent: same landed data -> same rows.
        batch = self._summarize(landed)
        if fresh or not self._catalog_exists():
            # fresh store: any pre-existing sidecar describes data that
            # was deleted out of band — replace it wholesale.
            self._write_catalog(batch, dynamic=False)
            return
        if not self._catalog_is_partitioned() or not self._catalog_is_v2():
            # one-time migration (pre-partitioning flat layout, or a
            # v1 per-series sidecar without the stats columns): the
            # data — already written at this point — is the complete
            # truth, so rebuild from it; the static overwrite also
            # clears the old-layout files.
            self.rebuild_catalog()
            return
        old = self._read_catalog()
        if replace:
            # whole-series replace: the old rows of the incoming
            # series are dropped, not merged (they vouch for data that
            # no longer exists). Series may exist under OTHER sources
            # too, so this path rewrites the whole catalog (static) —
            # it mirrors the data path, which is itself a full static
            # overwrite on replace.
            old = old.join(
                F.broadcast(landed.select("series_id").distinct()),
                "series_id",
                "left_anti",
            )
            self._write_catalog(old.unionByName(batch), dynamic=False)
            return
        # merge path (the micro-batch hot path): only the batch's
        # source partition is read and rewritten, so every other
        # source's sidecar file stays byte-identical on disk. Within
        # it, the touched dates' rows are replaced by the recomputed
        # batch rows; untouched dates' rows are kept as-is.
        keep = old.where(F.col("source") == F.lit(source)).where(
            ~self._touched(source, dates)
        )
        self._write_catalog(keep.unionByName(batch), dynamic=True)

    def rebuild_catalog(self) -> None:
        """Recompute the catalog sidecar from the data — the recovery
        path for torn sidecar writes and the migration path for stores
        created before the sidecar existed."""
        fresh = self._summarize(self._read_all())
        self._write_catalog(fresh, dynamic=False)

    # -- compaction --------------------------------------------------------
    @staticmethod
    def _zvalue(a, b, bits: int = 16):
        """Interleave the low ``bits`` of two long columns (a in even
        positions, b in odd) — the Morton/Z curve key."""
        z = F.lit(0).cast("long")
        for k in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(a, k).bitwiseAND(F.lit(1)), 2 * k)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), 2 * k + 1)
            )
        return z

    def compact(
        self,
        target_records_per_file: int = 5_000_000,
        cluster: str = "linear",
    ) -> None:
        """Rewrite the dataset coalescing small files.

        Repeated incremental merges leave one small file per (partition,
        write); at 100 TB the 5-minute cadence would otherwise produce
        288 files/partition/day and scans degrade on open() overhead.
        Run periodically (the reference's daily backfill slot is the
        natural place).

        ``cluster`` picks the row/row-group clustering inside each
        (source, date) partition:

        * ``"linear"`` — sort by (series_id, ts). Optimal when queries
          always lead with series_id; a ts-only predicate still touches
          every file (each holds its series' full day).
        * ``"zorder"`` — sort by the Morton interleave of the two
          columns' 16-bit percent-rank ordinals. Every output file then
          covers a narrow range of BOTH series_id and ts, so min/max
          stats prune files/row groups for series-only, ts-only, and
          combined predicates alike — the right layout when the store
          serves mixed dashboards. Rank-based ordinals (not hashes)
          keep real value locality, so parquet min/max stay tight.
        """
        df = self._read_all()
        if cluster == "zorder":
            bits = 16
            scale = (1 << bits) - 1
            sw = W.partitionBy(*PARTITION_COLS).orderBy("series_id")
            tw = W.partitionBy(*PARTITION_COLS).orderBy("ts")
            s_ord = (F.percent_rank().over(sw) * scale).cast("long")
            t_ord = (F.percent_rank().over(tw) * scale).cast("long")
            df = (
                df.withColumn("_z", self._zvalue(s_ord, t_ord, bits))
                .sortWithinPartitions("source", "date", "_z")
                .drop("_z")
            )
        elif cluster == "linear":
            df = df.sortWithinPartitions("source", "date", "series_id", "ts")
        else:
            raise ValueError(f"unknown cluster mode: {cluster!r}")
        df = df.localCheckpoint(eager=True)
        (
            df.write.partitionBy(*PARTITION_COLS)
            .option("maxRecordsPerFile", target_records_per_file)
            .option("partitionOverwriteMode", "static")
            .mode("overwrite")
            .parquet(self.path)
        )

    # -- bucketed serving layout -------------------------------------------
    def as_bucketed_table(
        self,
        table_name: str,
        n_buckets: int = 32,
        source: str | None = None,
    ) -> DataFrame:
        """Materialize the store as a ``series_id``-bucketed, ts-sorted
        managed table and return it.

        The hive-partitioned (source, date) layout is optimal for the
        WRITE path (incremental merge touches only its days). For
        read-heavy per-series analytics — windows, as-of joins,
        resamples, all partitioned by series_id — every query re-shuffles
        on series_id. Bucketing by series_id pre-materializes that hash
        partitioning: the scan reports HashPartitioning(series_id) so
        per-series windows and series-series joins over this table plan
        NO Exchange. At 100 TB this turns the dominant recurring shuffle
        into a one-time layout cost (refresh it from the store in the
        daily compaction slot).
        """
        from my_weather_spark.ops.skew import write_bucketed

        df = self._read_all()
        if source is not None:
            df = df.where(F.col("source") == source)
        write_bucketed(
            df.select("series_id", "ts", "value", "ingest_time"),
            table_name,
            "series_id",
            n_buckets=n_buckets,
            sort_col="ts",
        )
        return self.spark.table(table_name)

    # -- find(): catalog over stored series (TsInfo analog) ---------------
    def find(
        self,
        pattern: str | None = None,
        source: str | None = None,
        catalog: DataFrame | None = None,
        fast: bool = False,
        exact_fallback: bool = True,
    ) -> DataFrame:
        """Full per-series TsInfo derived from the store, matching the
        reference's field set (repository.py:293-301): name, point_fx,
        delta_t, olson_tz_id, data_period_start/end, created, modified
        — plus n_points as an engine extra.

        ``fast=True`` answers from the catalog sidecar maintained at
        store() time — O(catalog rows), and NO data scan (not even
        file listing) unless the catalog answer itself marks series
        the sidecar cannot answer exactly; exactly the
        reference's repository-metadata semantics (its data_period and
        created/modified also come from tracked metadata, not a scan),
        and since the v2 sidecar it returns n_points and delta_t too:
        n_points sums the per-(source, date) counts; delta_t combines
        the stored within-partition spacing histograms with the
        boundary spacings reconstructed from consecutive partitions'
        (max_ts, next min_ts) — exact whenever a series' partitions
        don't interleave in time. If they DO interleave (the same
        series carries time-overlapping data under two sources — the
        concatenation order is then not the ts order), or a partition
        overflowed DT_HIST_CAP, the sidecar alone cannot answer: with
        ``exact_fallback=True`` (the default) fast delta_t is
        recomputed for JUST those series by a data scan pruned to
        their (source, date) partitions (broadcast the partition list
        so dynamic partition pruning keeps the scan proportional to
        the fallback subset, not the store), making fast delta_t
        exact-equal to the scan path for every series. With
        ``exact_fallback=False`` those series report NULL delta_t
        with zero data reads — the reference's metadata find() puts
        NaN there always, so NULL is reference-faithful; use it when
        the store is dominated by irregular (capped) series and a
        metadata-only answer is the point. The default exact path
        scans the data.

        Snapshot binding: with ``exact_fallback=True`` the returned
        DataFrame is bound to the CATALOG STATE AT CALL TIME: the
        per-series answer is checkpointed once, and the job that writes
        it also counts the series needing the fallback, so that count's
        plan-shape decision and the returned rows always agree — series
        stored after find() returns do not appear when the result is
        executed later. The fallback scan itself reads current data
        files within the snapshot's fallback partitions. With
        ``exact_fallback=False`` the result is fully lazy and reflects
        the catalog at execution time.

        delta_t (exact path) is the per-series mode of point spacing
        (dt_mode — the store knows the actual cadence). point_fx and
        olson_tz_id come from ``catalog`` (Domain.measurements, keyed
        by store_id), broadcast-joined; NULL when no catalog is given.
        Both aggregates hash-partition by series, so the join plans
        without an extra exchange.
        """
        from my_weather_spark.ops.timeseries import dt_mode

        if fast:
            if not self._catalog_exists() or not self._catalog_is_v2():
                # pre-sidecar or pre-v2 store: one-time migration scan
                self.rebuild_catalog()
            cat_df = self._read_catalog()
            if source is not None:
                cat_df = cat_df.where(F.col("source") == source)
            if pattern is not None:
                cat_df = cat_df.where(F.col("series_id").rlike(pattern))
            # The lag window and the one aggregate below both key on
            # series_id: the answer plans on one exchange and no join.
            # Order a series' partition rows by period start: when they
            # don't interleave, the full ts-sorted point sequence is
            # exactly their concatenation, so total spacings = stored
            # within-partition histograms + one boundary gap per
            # consecutive row pair (next min_ts - prev max_ts).
            worder = W.partitionBy("series_id").orderBy(
                "data_period_start", "data_period_end", "source", "date"
            )
            r = cat_df.withColumn(
                "_bgap",
                F.unix_micros("data_period_start")
                - F.unix_micros(F.lag("data_period_end").over(worder)),
            )
            # series the sidecar cannot answer exactly: partitions
            # interleave in time (concatenation order is not ts order),
            # or a partition overflowed DT_HIST_CAP (histogram dropped)
            # — routed to the pruned exact scan (exact_fallback) or to
            # NULL delta_t
            needs_scan = F.max(
                (F.col("_bgap") < 0) | (F.col("n_spacings") > self.DT_HIST_CAP)
            )
            # each row's spacings: its histogram entries plus its
            # boundary gap (a first row's NULL gap and an interleaved
            # row's negative one drop out in _mode_gap)
            spacings = F.concat(
                F.coalesce(
                    F.map_entries("dt_hist"),
                    F.array().cast("array<struct<key:bigint,value:bigint>>"),
                ),
                F.array(
                    F.struct(
                        F.col("_bgap").alias("key"),
                        F.lit(1).cast("long").alias("value"),
                    )
                ),
            )
            # aggregate by series only (a series stored under several
            # sources merges, exactly like the exact path's groupBy)
            info = r.groupBy("series_id").agg(
                F.min("data_period_start").alias("data_period_start"),
                F.max("data_period_end").alias("data_period_end"),
                F.min("created").alias("created"),
                F.max("modified").alias("modified"),
                F.sum("n_points").cast("long").alias("n_points"),
                needs_scan.alias("_needs_scan"),
                # the snapshot's partitions of a fallback series
                F.when(
                    needs_scan, F.collect_list(F.struct(*PARTITION_COLS))
                ).alias("_parts"),
                # exact-path delta_t is dt_mode_seconds: micros/1e6
                (
                    _mode_gap(F.flatten(F.collect_list(spacings)))
                    / F.lit(1_000_000.0)
                ).alias("_dt"),
            )
            n_scan = 0
            if exact_fallback:
                # Pin the finished answer at call time, counting the
                # series that need the fallback scan in the same job:
                # the plan-shape decision below and the rows returned
                # then read ONE catalog state, and a store() between
                # find() and execution changes neither. Checkpoint
                # blocks stay pinned in executor storage until the
                # Python-side DataFrame is garbage collected — a
                # long-lived driver calling find() in a loop holds
                # (catalog-sized, i.e. tiny) blocks until its references
                # drop; del them or gc.collect() to release. The
                # exact_fallback=False path stays fully lazy and
                # job-free by design (metadata-only callers; NULL
                # delta_t there is the documented answer for
                # unanswerable series either way).
                info, _, seen = checkpoint(
                    info, _nn=F.count_if(F.col("_needs_scan"))
                )
                n_scan = seen["_nn"]
            if n_scan:
                # recompute delta_t for JUST the series the sidecar
                # can't answer: scan pruned to the snapshot's (source,
                # date) partitions of those series — the partition list
                # is O(fallback series' partitions) and broadcast, so
                # dynamic partition pruning keeps reads proportional to
                # the fallback subset, not the store. The series
                # semi-join is corpus-derived (left to AQE).
                # BOUNDARY: the pruning needs the hive layout this
                # store writes (partitionBy source/date). On a
                # legacy flat layout (pre-migration) the semi-join
                # still filters CORRECTLY but prunes no files — run
                # rebuild_catalog()/migration first if fast-path scan
                # cost matters there.
                fb = info.where(F.col("_needs_scan"))
                fb_parts = fb.select(F.inline("_parts")).distinct()
                fb_data = (
                    self._read_all()
                    .join(F.broadcast(fb_parts), PARTITION_COLS, "left_semi")
                    .join(fb.select("series_id"), "series_id", "left_semi")
                )
                exact_modes = dt_mode(fb_data).select(
                    "series_id",
                    F.col("dt_mode_seconds").alias("_dt_exact"),
                )
                info = info.join(exact_modes, "series_id", "left")
            else:
                info = info.withColumn(
                    "_dt_exact", F.lit(None).cast("double")
                )
            info = info.select(
                F.col("series_id").alias("name"),
                "data_period_start",
                "data_period_end",
                "created",
                "modified",
                "n_points",
                F.when(
                    F.coalesce(F.col("_needs_scan"), F.lit(False)),
                    F.col("_dt_exact"),
                )
                .otherwise(F.col("_dt"))
                .alias("delta_t"),
            )
        else:
            df = self._read_all()
            if source is not None:
                df = df.where(F.col("source") == source)
            if pattern is not None:
                df = df.where(F.col("series_id").rlike(pattern))
            base = df.groupBy(F.col("series_id").alias("name")).agg(
                F.min("ts").alias("data_period_start"),
                F.max("ts").alias("data_period_end"),
                F.count("value").alias("n_points"),
                F.min("ingest_time").alias("created"),
                F.max("ingest_time").alias("modified"),
            )
            deltas = dt_mode(df).select(
                F.col("series_id").alias("name"),
                F.col("dt_mode_seconds").alias("delta_t"),
            )
            info = base.join(deltas, "name", "left")
        if catalog is not None:
            cat = catalog.select(
                F.col("store_id").alias("name"),
                "point_fx",
                F.col("timezone").alias("olson_tz_id"),
            )
            info = info.join(F.broadcast(cat), "name", "left")
        else:
            info = info.withColumn("point_fx", F.lit(None).cast("string")).withColumn(
                "olson_tz_id", F.lit(None).cast("string")
            )
        return info.select(
            "name",
            "point_fx",
            "delta_t",
            "olson_tz_id",
            "data_period_start",
            "data_period_end",
            "created",
            "modified",
            "n_points",
        )
