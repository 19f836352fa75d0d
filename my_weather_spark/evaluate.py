"""Query lifecycle: evaluate / find / store (SURVEY.md §3).

Reference lifecycle being re-expressed: ``DtsClient.evaluate(TsVector,
UtcPeriod)`` — tag each ts_id with its input index, group by URL
scheme, error on unknown scheme, fan out one batched repository call
per scheme, flatten, and restore input order by the carried index
(reference: weather/service/dtss_host.py:197-245,
weather/data_sources/netatmo/repository.py:220-265).

Spark-native: the query manifest is (query_index, series_id); store-
scheme refs become ONE pruned parquet scan; source-scheme refs go to
adapters returning DataFrames; everything unions into a single lazy
plan; order restoration is an ``orderBy(query_index)`` at the collect
edge (order carried as data, never assumed from row order —
SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_weather_spark.model import SeriesRef, UtcPeriod
from my_weather_spark.session import EngineSession, local_frame
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
        if not series_ids:
            raise ValueError("evaluate() requires at least one series id")
        refs = [SeriesRef.parse(s) for s in series_ids]  # raises on bad url

        # J3a: group indices by scheme (reference: dtss_host.py:211-216).
        by_scheme: dict[str, list[int]] = defaultdict(list)
        for i, ref in enumerate(refs):
            by_scheme[ref.scheme].append(i)

        parts: list[DataFrame] = []
        for scheme, idxs in by_scheme.items():
            urls = [refs[i].url for i in idxs]
            if scheme == STORE_SCHEME:
                if self.store is None:
                    raise KeyError("no TsStore attached for shyft:// refs")
                data = self.store.scan(series_ids=list(set(urls)), period=period)
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
                # series_id and the manifest join below fans results
                # back out to every (duplicate) query position.
                unique_refs = list({refs[i].url: refs[i] for i in idxs}.values())
                data = adapter.read(self.spark, unique_refs, period)
                data = data.select("series_id", "ts", "value").where(
                    (F.col("ts") >= F.lit(period.start))
                    & (F.col("ts") <= F.lit(period.end))
                )
            # Re-attach query indices: duplicates fan out via the
            # manifest join (broadcast — the manifest is tiny). The
            # manifest is a LocalRelation: built as a Python RDD it cost
            # a Python-worker job on every query just to ship its rows.
            manifest = local_frame(
                self.spark,
                [(i, refs[i].url) for i in idxs],
                "query_index int, series_id string",
            )
            parts.append(data.join(F.broadcast(manifest), "series_id", "inner"))

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # O1: order restoration at the edge.
        return out.select("query_index", "series_id", "ts", "value").orderBy(
            "query_index", "ts"
        )

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
    ) -> None:
        """Write path (reference: DtsClient.store_ts, merge semantics
        — data_collection_task.py:121-126)."""
        if self.store is None:
            raise KeyError("no TsStore attached")
        self.store.store(
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
