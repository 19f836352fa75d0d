"""Structured Streaming pipelines (SURVEY.md §2 T1/T2/T4/T5).

The reference's collection loop is a scheduled micro-batch: every
``wait_time`` seconds read a trailing window from the source and store
it with merge semantics; the trailing window re-reads late data and
the merge dedups it (weather/service/service_manager.py:39-50,
data_collection_task.py:136-150, start_collection_netatmo.py:72-91).

Spark-native: ``readStream`` over the landing area -> ``foreachBatch``
that runs the SAME merge-on-write used by the batch path (one code
path for dedup semantics), with checkpointing for exactly-once sink
behavior. Late data is handled twice over: the watermark bounds state,
and the idempotent merge makes re-delivery harmless.

Also provides watermark-bounded late-data dedup (T2), the streaming
twin of the curation front stages, a ``StreamingQueryListener``
watchdog (T5) and a custom stateful operator
(``applyInPandasWithState``) for in-plane burst detection, the
data-plane twin of the control-plane rate limiter (T4).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from my_weather_spark.model import OBSERVATION_SCHEMA
from my_weather_spark.store import TsStore


# ----------------------------------------------------------------------
# T1/T2 — streaming collection into the merge store.
def stream_observations(spark: SparkSession, landing_dir: str) -> DataFrame:
    """readStream over a parquet landing area of observation files."""
    return (
        spark.readStream.schema(OBSERVATION_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )


def stream_collect(
    spark: SparkSession,
    landing_dir: str,
    store: TsStore,
    checkpoint_dir: str,
    source: str = "stream",
    trigger_available_now: bool = True,
    processing_time: str = "5 minutes",
    query_name: str | None = None,
):
    """Start the collection stream: each micro-batch merges into the
    TsStore via the engine's deterministic merge-on-write (idempotent
    under re-delivery, mirroring the reference's overlapping re-read).

    Returns the StreamingQuery. ``trigger_available_now=True`` drains
    what's there and stops (the scheduled-batch analog, exactly the
    reference's 5-minute cadence pattern when run under a scheduler);
    otherwise a continuous micro-batch trigger at ``processing_time``.
    """
    obs = stream_observations(spark, landing_dir)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.store(batch_df, source=source, overwrite_on_write=False)

    writer = (
        obs.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def dedup_late_stream(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup on (series_id, ts) within the watermark horizon —
    the in-plane analog of the store's merge dedup for at-least-once
    sources (reference's overlapping 30-min re-read, T2)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["series_id", "ts"]
    )


def curated_doc_stream(
    stream: DataFrame,
    min_words: int = 10,
    max_punct_ratio: float = 0.2,
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of the curation pipeline's cheap front stages:
    in-row quality gate + exact content dedup, entirely inside the
    stream plan (bounded state, low latency).

    The quality gate is the SAME predicate (and the same defaults) as
    the batch path — ``text.quality_keep_predicate`` is the single
    source of truth, shared so the twins cannot drift. Exact dedup
    keys on a content hash via ``dropDuplicatesWithinWatermark``, so
    dedup state is bounded by the watermark horizon, not corpus
    lifetime. Survivor choice among duplicates is WHICHEVER ROW THE
    ENGINE SEES FIRST (processing order, not event time or id) —
    exactly one copy per hash survives, but which one is
    nondeterministic, unlike the batch twin's keep-smallest-id rule.
    Callers that need a deterministic survivor run the batch dedup
    downstream. For corpus-lifetime near-dup ingestion use
    :func:`llm.incremental.stream_ingest`, which keeps unbounded LSH
    state in parquet; this front filter is what runs upstream of it
    (or alone when latency matters more than cross-horizon dedup).
    """
    from my_weather_spark.llm.text import quality_keep_predicate

    kept = stream.where(
        quality_keep_predicate(text_col, min_words, max_punct_ratio)
    )
    return (
        kept.withColumn("_content_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
        .drop("_content_hash")
    )


# ----------------------------------------------------------------------
# T5 streaming twin: supervision via StreamingQueryListener.
class StreamWatchdog:
    """Records streaming progress/termination events and restarts
    failed queries — the Structured-Streaming twin of the driver-side
    ServiceManager (reference: service_manager.py:92-214).

    Register once per session; call ``restart_failed()`` from the
    supervision loop (or wire it into ServiceManager as a service whose
    health_check is ``not watchdog.failures``).
    """

    def __init__(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        watchdog = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                watchdog.started.append(event.id)
                # id -> name map lets termination events (which carry
                # no name) correlate failures to registered restarts
                watchdog._names[str(event.id)] = event.name

            def onQueryProgress(self, event) -> None:
                p = event.progress
                watchdog.progress.append(
                    {
                        "id": str(p.id),
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                    }
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                if event.exception is not None:
                    watchdog.failures.append(
                        {
                            "id": str(event.id),
                            "name": watchdog._names.get(str(event.id)),
                            "exception": str(event.exception),
                        }
                    )

        self.spark = spark
        self.started: list = []
        self.progress: list[dict] = []
        self.failures: list[dict] = []
        self._names: dict[str, str] = {}
        self._restarts: dict[str, Any] = {}
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def register_restart(self, name: str, start_fn) -> None:
        """start_fn() -> StreamingQuery for the query started under
        ``queryName(name)``; re-invoked when a FAILURE FOR THAT NAME is
        recorded and no query with the name is currently active."""
        self._restarts[name] = start_fn

    def restart_failed(self) -> list[str]:
        """Restart queries whose failures were recorded, correlated by
        query name (unnamed failed queries are reported but cannot be
        auto-restarted — name your supervised streams).

        Consumes a SNAPSHOT of the failure list: a failure that lands
        while a restart is in flight stays queued for the next sweep
        (rebuilding the list by name would delete it and stop
        supervising the flakiest query). A failure whose query is
        already active again (someone restarted it by hand) is stale
        and is discarded — otherwise it would fire a restart after the
        operator later stops that query on purpose."""
        restarted: list[str] = []
        snapshot = list(self.failures)
        if not snapshot:
            return restarted
        active = {q.name for q in self.spark.streams.active if q.name}
        consumed: list[dict] = []
        handled: set[str] = set()
        for f in snapshot:
            name = f.get("name")
            if not name:
                continue
            if name in active:
                consumed.append(f)  # stale: already running again
                continue
            fn = self._restarts.get(name)
            if fn is not None and name not in handled:
                fn()
                restarted.append(name)
                handled.add(name)
            if name in handled:
                consumed.append(f)
        # remove exactly the records this sweep consumed, by identity
        self.failures = [f for f in self.failures if not any(f is c for c in consumed)]
        return restarted

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)



# ----------------------------------------------------------------------
# T4 data-plane twin: stateful burst detection per series.
def burst_flags(
    stream: DataFrame,
    action_limit: int = 45,
    timespan_seconds: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per series,
    flag micro-batches whose trailing-``timespan`` event count exceeds
    ``action_limit`` — the sliding-deque rate check as managed state.

    State per series is a bounded list of recent event timestamps
    (epoch seconds), pruned each batch — O(action_limit) state per key,
    safe at millions of keys.
    """
    import pandas as pd

    out_schema = (
        "series_id string, batch_max_ts timestamp, n_in_window int, over_limit boolean"
    )
    state_schema = "ts_list array<double>"

    def _update(key, pdfs, state: GroupState):
        (series_id,) = key
        ts_seen: list[float] = list(state.get[0]) if state.exists else []
        max_ts = None
        for pdf in pdfs:
            secs = pdf["ts"].astype("int64") / 1e9
            ts_seen.extend(secs.tolist())
            m = pdf["ts"].max()
            max_ts = m if max_ts is None else max(max_ts, m)
        ts_seen.sort()
        cutoff = ts_seen[-1] - timespan_seconds if ts_seen else 0.0
        ts_seen = [t for t in ts_seen if t > cutoff][-10 * action_limit :]
        state.update((ts_seen,))
        n = len(ts_seen)
        yield pd.DataFrame(
            {
                "series_id": [series_id],
                "batch_max_ts": [max_ts],
                "n_in_window": [n],
                "over_limit": [n > action_limit],
            }
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("series_id")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
