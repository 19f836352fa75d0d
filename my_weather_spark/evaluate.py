"""Query lifecycle: evaluate / find / store (SURVEY.md §3).

Reference lifecycle being re-expressed: ``DtsClient.evaluate(TsVector,
UtcPeriod)`` — tag each ts_id with its input index, group by URL
scheme, error on unknown scheme, fan out one batched repository call
per scheme, flatten, and restore input order by the carried index
(reference: weather/service/dtss_host.py:197-245,
weather/data_sources/netatmo/repository.py:220-265).

Spark-native: the query manifest is one map literal series_id ->
query positions; store-scheme refs become ONE pruned parquet scan;
source-scheme refs go to adapters returning DataFrames; everything
unions into a single lazy plan; order restoration is an
``orderBy(query_index)`` at the edge that reads rows in order,
``evaluate()``, and not under the collection cycle's store (order
carried as data, never assumed from row order — SURVEY.md §7 hard-part
4).
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_weather_spark.model import SeriesRef, UtcPeriod
from my_weather_spark.session import EngineSession, json_literal
from my_weather_spark.store import TsStore

STORE_SCHEME = "shyft"


class TsEngine:
    """evaluate/find/store facade over an EngineSession + TsStore."""

    def __init__(
        self,
        session: EngineSession,
        store: TsStore | None = None,
        catalog: "DataFrame | None" = None,
    ) -> None:
        self.session = session
        self.store = store
        # optional measurement catalog (Domain.measurements) used to
        # enrich store-side TsInfo with point_fx / olson_tz_id
        self.catalog = catalog

    @property
    def spark(self):
        return self.session.spark

    # ------------------------------------------------------------------
    def evaluate(self, series_ids: list[str], period: UtcPeriod) -> DataFrame:
        """Evaluate a vector of series refs over an inclusive period.

        Returns (query_index, series_id, ts, value) ordered by
        (query_index, ts). Duplicate ids keep their positions (the
        reference preserves the input vector 1:1).
        """
        # O1: order restoration at the edge that reads the rows in order
        return self.evaluate_unordered(series_ids, period).orderBy(
            "query_index", "ts"
        )

    def evaluate_unordered(self, series_ids: list[str], period: UtcPeriod) -> DataFrame:
        """``evaluate()``'s rows in no particular order, for a consumer
        that does not read them in order (the collection cycle's store):
        the global sort costs a range-sampling job and an exchange, and
        the optimizer keeps it under a window."""
        if not series_ids:
            raise ValueError("evaluate() requires at least one series id")
        refs = [SeriesRef.parse(s) for s in series_ids]  # raises on bad url

        # J3a: group indices by scheme (reference: dtss_host.py:211-216).
        by_scheme: dict[str, list[int]] = defaultdict(list)
        for i, ref in enumerate(refs):
            by_scheme[ref.scheme].append(i)

        parts: list[DataFrame] = []
        for scheme, idxs in by_scheme.items():
            positions: dict[str, list[int]] = defaultdict(list)
            for i in idxs:
                positions[refs[i].url].append(i)
            if scheme == STORE_SCHEME:
                if self.store is None:
                    raise KeyError("no TsStore attached for shyft:// refs")
                data = self.store.scan(series_ids=list(positions), period=period)
                # The store merge-dedups only WITHIN a source partition;
                # the same series stored under two sources would return
                # duplicate (query_index, ts) rows here and silently
                # double-count downstream. Collapse across sources with
                # the same deterministic rule the store itself uses.
                from my_weather_spark.ops.timeseries import merge_dedup

                data = merge_dedup(data).select("series_id", "ts", "value")
            else:
                adapter = self.session.adapter(scheme)  # raises on unknown
                # Dedupe refs before the adapter call: data is keyed by
                # series_id and the manifest below fans results back out
                # to every (duplicate) query position.
                unique_refs = [refs[ix[0]] for ix in positions.values()]
                data = adapter.read(self.spark, unique_refs, period)
                data = data.select("series_id", "ts", "value").where(
                    (F.col("ts") >= F.lit(period.start))
                    & (F.col("ts") <= F.lit(period.end))
                )
            # Re-attach query indices: the manifest is one map literal
            # url -> query positions, and each row explodes its entry, so
            # duplicate refs fan out with no join and no broadcast job.
            manifest = json_literal(positions, "map<string,array<int>>")
            parts.append(
                data.select(
                    F.explode(manifest[F.col("series_id")]).alias("query_index"),
                    "series_id",
                    "ts",
                    "value",
                )
            )

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    def find(self, query: str) -> DataFrame:
        """Metadata search routed by scheme (reference:
        dtss_host.py:233-236 -> repository find, repository.py:279-306)."""
        ref = SeriesRef.parse(query)
        if ref.scheme == STORE_SCHEME:
            if self.store is None:
                raise KeyError("no TsStore attached for shyft:// refs")
            return self.store.find(
                pattern=_url_to_pattern(ref.url), catalog=self.catalog
            )
        return self.session.adapter(ref.scheme).find(self.spark, ref)

    # ------------------------------------------------------------------
    def store_ts(
        self,
        df: DataFrame,
        overwrite_on_write: bool = False,
        source: str = "default",
        ingest_time: datetime | None = None,
    ) -> int:
        """Write path (reference: DtsClient.store_ts, merge semantics
        — data_collection_task.py:121-126). Returns the number of rows
        in ``df``, as ``TsStore.store`` does."""
        if self.store is None:
            raise KeyError("no TsStore attached")
        return self.store.store(
            df,
            source=source,
            overwrite_on_write=overwrite_on_write,
            ingest_time=ingest_time or datetime.now(tz=timezone.utc),
        )

    # ------------------------------------------------------------------
    def healthy(self) -> bool:
        """T6 heartbeat probe: trivial spark round-trip + adapter probes
        (reference: dtss_host.py:165-173)."""
        if self.spark.range(1).count() != 1:
            return False
        return all(
            self.session.adapter(s).healthy(self.spark) for s in self.session.schemes
        )


def _url_to_pattern(url: str) -> str:
    """Anchored prefix pattern with a PATH boundary: 'shyft://x/oslo'
    must match oslo and oslo's subtree but never its sibling 'oslo2'
    (an unanchored bare prefix silently includes another station's
    series). A query already ending in '/' is an explicit subtree."""
    import re

    esc = "^" + re.escape(url)
    return esc if url.endswith("/") else esc + "($|/)"
