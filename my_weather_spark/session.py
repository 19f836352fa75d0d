"""SparkSession construction + engine session (adapter registry).

The reference wires repositories into a DTSS host via a plain dict
keyed by URL scheme (reference: weather/service/dtss_host.py:122-130).
Here the same role is played by :class:`EngineSession`, which owns a
SparkSession and a scheme->SourceAdapter registry.

Scale notes: these configs are tuned for local[N] testing but the
defaults are cluster-safe — AQE handles runtime coalescing and skew
joins, shuffle partitions are set explicitly per environment, and
Arrow is enabled for the few pandas-UDF code paths.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    from my_weather_spark.sources.base import SourceAdapter


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` if set, else half
    of physical memory in MiB (at least 1 GiB).

    In local mode the driver JVM holds every task, so its heap is the
    one memory knob. A fixed size larger than the host lets the heap
    grow without collecting until the kernel kills the process; half
    of RAM leaves room for the JVM's off-heap use and the Python side.
    """
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, total // 2 // (1 << 20))}m"


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-side table as a JVM ``LocalRelation``.

    Takes the same (rows, schema) as ``spark.createDataFrame``. A list
    input plans a Python RDD scan, so every action over it runs a
    Python-worker job just to ship a handful of rows. An Arrow table is
    handed to the JVM whole and plans a ``LocalTableScan``, also when
    ``spark.sql.execution.arrow.pyspark.enabled`` is off (a pandas
    input would fall back to the RDD path there).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def json_literal(value: list | dict, ddl: str) -> Column:
    """A driver-side list or dict as ONE literal column of type ``ddl``
    (``array<string>``, ``map<string,array<int>>``, ...).

    ``F.array(*map(F.lit, xs))`` and ``isin(xs)`` cost py4j round trips
    per element; this is ``from_json`` over one JSON string literal,
    seven round trips at any length. The string is a constant, so
    ``ConstantFolding`` evaluates the parse once while optimizing and
    the plan holds a plain array or map literal."""
    return F.from_json(F.lit(json.dumps(value, separators=(",", ":"))), ddl)


def checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, int, dict]:
    """(``df.localCheckpoint(eager=True)``, its row count, {name: value}
    of the named aggregate columns ``aggs``) — all measured by the job
    that writes the checkpoint (``DataFrame.observe``), so sizing a
    stage runs no second action. Aggregates follow ``observe``'s rules:
    deterministic, no DISTINCT, no window."""
    obs = Observation()
    out = df.observe(
        obs, F.count(F.lit(1)).alias("n"), *(c.alias(k) for k, c in aggs.items())
    ).localCheckpoint(eager=True)
    metrics = dict(obs.get)
    return out, metrics.pop("n"), metrics


def python_rdd_scans(df: DataFrame) -> int:
    """Number of scans in ``df``'s optimized plan that read a Python RDD
    (a ``createDataFrame(list)`` frame). A ``localCheckpoint`` scan is a
    ``LogicalRDD`` too, but its lineage ends at the checkpoint."""
    jvm = df.sparkSession._jvm
    leaves = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().optimizedPlan().collectLeaves()
    )
    return sum(
        1
        for leaf in leaves
        if leaf.getClass().getSimpleName() == "LogicalRDD"
        and "PythonRDD" in leaf.rdd().toDebugString()
    )


def get_spark(
    app_name: str = "my_weather_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults follow the public Spark tuning guidance: AQE on (runtime
    partition coalescing + skew-join splitting), UTC session timezone
    (the reference's time domain is UTC epoch seconds —
    repository.py:136-140), Arrow enabled for pandas interchange.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead of
        # keeping defaultParallelism partitions: small shuffles collapse
        # to a handful of tasks (less scheduling overhead), large ones
        # still split by size. This is the documented production setting
        # for size-based coalescing (Spark SQL performance tuning guide).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark rejects by default; read as long (ns) and convert
        # in the table loader (my_weather_spark.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only JVM: driver memory is THE memory knob
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class EngineSession:
    """Engine session: SparkSession + URL-scheme -> source-adapter registry.

    Mirrors the reference's DtssHost construction, where each
    DataCollectionRepository is registered under its ``name`` (URL
    scheme) and lookups route by scheme (dtss_host.py:122-130,
    211-216). The registry is driver-side control-plane state; the
    data plane is pure DataFrames.
    """

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        self._adapters: dict[str, "SourceAdapter"] = {}

    # -- adapter registry (reference: dtss_host.py:122-130) ------------
    def register_adapter(self, adapter: "SourceAdapter") -> None:
        if adapter.scheme in self._adapters:
            raise ValueError(f"adapter for scheme {adapter.scheme!r} already registered")
        self._adapters[adapter.scheme] = adapter

    def adapter(self, scheme: str) -> "SourceAdapter":
        try:
            return self._adapters[scheme]
        except KeyError:
            # Unknown scheme is a hard error, like the reference's
            # RuntimeError on unknown ts_id scheme (dtss_host.py:238-245).
            raise KeyError(
                f"no source adapter registered for scheme {scheme!r}; "
                f"known: {sorted(self._adapters)}"
            ) from None

    @property
    def schemes(self) -> list[str]:
        return sorted(self._adapters)
