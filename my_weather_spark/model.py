"""Data model: schemas, series identity (URL codec), periods, catalog.

The reference models a timeseries as (time axis, value vector, point
interpretation) identified by a URL with two schemes — store ids
``shyft://<repo>/<station>/<module>/<type>`` and source queries
``netatmo://?station_name=X&module_name=Y&data_type=Z``
(reference: weather/data_sources/netatmo/identifiers.py:32-43).

Here a series is rows of a long-format DataFrame
``(series_id, ts, value, ingest_time)`` and identity is the same URL
string; point interpretation lives in the series catalog.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import types as T

# --- point interpretation (reference: domain.py:111-120) --------------
# INSTANT: linear between points. AVERAGE: staircase, value holds over
# [t_i, t_{i+1}).
POINT_INSTANT_VALUE = "instant"
POINT_AVERAGE_VALUE = "average"

# --- observation fact table (FIXTURES.md §1) ---------------------------
OBSERVATION_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("ingest_time", T.TimestampType(), True),
    ]
)

# --- series catalog / TsInfo (reference: repository.py:293-301) --------
TSINFO_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("point_fx", T.StringType(), True),
        T.StructField("delta_t", T.DoubleType(), True),
        T.StructField("olson_tz_id", T.StringType(), True),
        T.StructField("data_period_start", T.TimestampType(), True),
        T.StructField("data_period_end", T.TimestampType(), True),
        T.StructField("created", T.TimestampType(), True),
        T.StructField("modified", T.TimestampType(), True),
    ]
)

# Fixed 10-entry measurement catalog (reference: domain.py:110-121).
MEASUREMENT_TYPES: list[tuple[str, str, str]] = [
    ("Temperature", "°C", POINT_INSTANT_VALUE),
    ("CO2", "ppm", POINT_INSTANT_VALUE),
    ("Humidity", "%", POINT_INSTANT_VALUE),
    ("Pressure", "mbar", POINT_INSTANT_VALUE),
    ("Noise", "db", POINT_INSTANT_VALUE),
    ("Rain", "mm", POINT_INSTANT_VALUE),
    ("WindStrength", "km / h", POINT_INSTANT_VALUE),
    ("WindAngle", "angles", POINT_INSTANT_VALUE),
    ("Guststrength", "km / h", POINT_INSTANT_VALUE),
    ("GustAngle", "angles", POINT_INSTANT_VALUE),
]


# --- UtcPeriod ---------------------------------------------------------
@dataclass(frozen=True)
class UtcPeriod:
    """Inclusive [start, end] UTC period (reference: repository.py:109
    — "Inclusive start/end"). Accepts datetimes or epoch seconds.

    Inclusivity is a hard contract: the reference's incremental test
    asserts both endpoints present (test_data_collection_task.py:86-88).
    Encode the predicate ONCE here (see filter bounds) so downstream
    operators cannot drift to half-open.
    """

    start: datetime
    end: datetime

    def __init__(self, start, end) -> None:
        object.__setattr__(self, "start", _to_dt(start))
        object.__setattr__(self, "end", _to_dt(end))
        if self.end < self.start:
            raise ValueError(f"period end {self.end} < start {self.start}")

    @property
    def start_epoch(self) -> float:
        return self.start.timestamp()

    @property
    def end_epoch(self) -> float:
        return self.end.timestamp()

    def contains(self, t) -> bool:
        t = _to_dt(t)
        return self.start <= t <= self.end

    def __str__(self) -> str:  # pragma: no cover - repr sugar
        return f"[{self.start.isoformat()} .. {self.end.isoformat()}]"


def _to_dt(t) -> datetime:
    if isinstance(t, datetime):
        return t if t.tzinfo else t.replace(tzinfo=timezone.utc)
    if isinstance(t, str):
        dt = datetime.fromisoformat(t)
        return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)
    return datetime.fromtimestamp(float(t), tz=timezone.utc)


# --- series identity: URL codec (reference: identifiers.py) ------------
_QUERY_PARAM_RE = re.compile(r"(\w+)=(.*?)(?:&|$)")
_URL_RE = re.compile(r"^(?P<scheme>[a-zA-Z][\w+.-]*)://(?P<rest>.*)$")


@dataclass(frozen=True)
class SeriesRef:
    """Parsed series reference.

    * store id   ``shyft://netatmo/superstation/livingroom/temperature``
      -> scheme='shyft', path=['netatmo','superstation','livingroom','temperature']
    * source query ``netatmo://?station_name=X&module_name=Y&data_type=Z``
      -> scheme='netatmo', params={...}

    Reference codec: identifiers.py:32-56 (create/parse for both forms).
    """

    url: str
    scheme: str
    path: tuple[str, ...] = ()
    params: dict[str, str] = field(default_factory=dict)

    @staticmethod
    def parse(url: str) -> "SeriesRef":
        m = _URL_RE.match(url)
        if not m:
            raise ValueError(f"not a series url: {url!r}")
        scheme, rest = m.group("scheme"), m.group("rest")
        if rest.startswith("?"):
            params = dict(_QUERY_PARAM_RE.findall(rest[1:]))
            return SeriesRef(url=url, scheme=scheme, params=params)
        path = tuple(p for p in rest.split("/") if p)
        return SeriesRef(url=url, scheme=scheme, path=path)


def create_store_id(repo: str, station: str, module: str, data_type: str) -> str:
    """Store-scheme id (reference: identifiers.py:32-37) with
    ascii-clean slug parts (reference: utilities/ascii_clean.py)."""
    from my_weather_spark.ops.scalars import ascii_clean_py

    return "shyft://{}/{}/{}/{}".format(
        repo, ascii_clean_py(station), ascii_clean_py(module), ascii_clean_py(data_type)
    )


def create_query_id(scheme: str, station_name: str, module_name: str, data_type: str) -> str:
    """Source-query-scheme id (reference: identifiers.py:40-43).

    Raises if a name contains the query-syntax delimiters '&' or '=':
    the flat ``k=v&k=v`` form has no escaping (same as the reference's
    regex codec), so such an id could never parse back to its own
    parts — fail at construction, not at the later KeyError."""
    parts = {"station_name": station_name, "module_name": module_name,
             "data_type": data_type}
    for k, v in parts.items():
        if "&" in v or "=" in v:
            raise ValueError(
                f"{k}={v!r} contains a query delimiter ('&'/'='); "
                "query ids are not escapable — clean the name first "
                "(e.g. ops.scalars.ascii_clean_py)"
            )
    return (
        f"{scheme}://?station_name={station_name}"
        f"&module_name={module_name}&data_type={data_type}"
    )


def parse_query_id(url: str, allowed_params: set[str] | None = None) -> dict[str, str]:
    """Parse + validate query-form id (reference: identifiers.py:46-56:
    regex param extraction and validation against the allowed set)."""
    ref = SeriesRef.parse(url)
    if allowed_params is not None:
        unknown = set(ref.params) - allowed_params
        if unknown:
            raise ValueError(
                f"unknown query params {sorted(unknown)} in {url!r}; allowed {sorted(allowed_params)}"
            )
    return ref.params
