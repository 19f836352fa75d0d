"""Domain-backed source adapter: the reference's Netatmo read path.

Re-expression of weather/data_sources/netatmo/repository.py's
read_callback flow (§3 step 4): parse each query-form ts_id
(``netatmo://?station_name=X&module_name=Y&data_type=Z``), resolve it
against the metadata domain (J1), regroup by module id so all
measurement types of one module fetch in ONE backing call (the shared
scan, repository.py:232-255), fan out a paginated rate-limited block
fetch per module, and reassemble results keyed by the ORIGINAL query
urls.

The backing store is any long-format parquet keyed by the domain's
store ids — standing in for the cloud API with the same 1024-point
pagination contract.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_weather_spark.domain import Domain
from my_weather_spark.model import SeriesRef, TSINFO_SCHEMA, UtcPeriod, parse_query_id
from my_weather_spark.session import local_frame
from my_weather_spark.sources.base import SourceAdapter
from my_weather_spark.sources.file_source import ChunkedFileAdapter

ALLOWED_PARAMS = {"station_name", "module_name", "data_type"}


class DomainAdapter(SourceAdapter):
    def __init__(self, scheme: str, domain: Domain, backing: ChunkedFileAdapter) -> None:
        self.scheme = scheme
        self.domain = domain
        self.backing = backing
        # The measurements dim is catalog-sized; a driver-side lookup
        # map mirrors the reference's in-memory domain (domain.py:277).
        self._index: dict[tuple[str, str, str], dict] = {}
        for r in domain.measurements.collect():
            key = (
                r["station_name"].lower(),
                r["module_name"].lower(),
                r["data_type"].lower(),
            )
            self._index[key] = r.asDict()

    def _resolve(self, ref: SeriesRef) -> dict:
        params = parse_query_id(ref.url, ALLOWED_PARAMS)
        missing = ALLOWED_PARAMS - set(params)
        if missing:
            raise ValueError(f"{ref.url!r} missing params {sorted(missing)}")
        key = (
            params["station_name"].lower(),
            params["module_name"].lower(),
            params["data_type"].lower(),
        )
        try:
            return self._index[key]
        except KeyError:
            raise KeyError(f"no measurement in domain for {ref.url!r}") from None

    def read(self, spark: SparkSession, refs: list[SeriesRef], period: UtcPeriod) -> DataFrame:
        # J3b: group by module for batched backing fetches
        by_module: dict[str, list[tuple[SeriesRef, dict]]] = defaultdict(list)
        for ref in refs:
            m = self._resolve(ref)
            by_module[m["module_id"]].append((ref, m))

        parts: list[DataFrame] = []
        for module_id, entries in by_module.items():
            store_ids = [m["store_id"] for _, m in entries]
            block = self.backing.read(
                spark, [SeriesRef.parse(s) for s in store_ids], period
            )
            # rebind store ids -> original query urls (J2 by identity)
            mapping = local_frame(
                spark,
                [(m["store_id"], ref.url) for ref, m in entries],
                "series_id string, query_url string",
            )
            parts.append(
                block.join(F.broadcast(mapping), "series_id").select(
                    F.col("query_url").alias("series_id"), "ts", "value"
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def find(self, spark: SparkSession, query: SeriesRef) -> DataFrame:
        """TsInfo rows from domain metadata (reference
        repository.py:279-306: point_fx + tz from the catalog)."""
        if query.params:
            m = self._resolve(query)
            rows = [m]
        elif query.path:
            # A path-form url under the query scheme is a malformed
            # query (e.g. a typo'd 'netatmo://station'): listing the
            # ENTIRE catalog for it would silently mask the mistake.
            raise ValueError(
                f"{query.url!r} is not a query-form id; expected "
                f"'{self.scheme}://?station_name=..&module_name=..&data_type=..' "
                f"or bare '{self.scheme}://' to list everything"
            )
        else:
            rows = [m for m in self._index.values()]
        info = [
            (
                m["query_id"],
                m["point_fx"] or "instant",
                float("nan"),
                m["timezone"] or "UTC",
                None,
                None,
                None,
                None,
            )
            for m in rows
        ]
        return local_frame(spark, info, TSINFO_SCHEMA)

    def healthy(self, spark: SparkSession) -> bool:
        try:
            return len(self._index) > 0
        except Exception:
            return False
