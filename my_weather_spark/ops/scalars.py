"""Scalar functions (SURVEY.md §2 F1-F8): string/date/url/binning.

All data-plane variants are Column expressions built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd; no Python
UDFs. Each has a tiny pure-Python twin (``*_py``) for driver-side use
(id construction, config), mirroring the reference's utility modules.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# F1 camelCase -> snake_case (reference: utilities/camel_converter.py:4-11:
# two regex passes then lower()).
_CAMEL_1 = r"(.)([A-Z][a-z]+)"
_CAMEL_2 = r"([a-z0-9])([A-Z])"


def camel_to_snake(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(
        F.regexp_replace(F.regexp_replace(c, _CAMEL_1, r"$1_$2"), _CAMEL_2, r"$1_$2")
    )


def camel_to_snake_py(name: str) -> str:
    s = re.sub(_CAMEL_1, r"\1_\2", name)
    return re.sub(_CAMEL_2, r"\1_\2", s).lower()


# ---------------------------------------------------------------------
# F2 ascii-clean slug (reference: utilities/ascii_clean.py:6-10):
# non [a-zA-Z0-9] -> '-', then strip non-ascii, then lower.
# Golden: 'Eftasåsen4' -> 'eftas-sen4' (test_ascii_clean.py:3-7) — note
# å first becomes '-'? No: å is not in [a-zA-Z0-9] so -> '-', giving
# 'Eftas-sen4', then lower -> 'eftas-sen4'.
def ascii_clean(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(
        F.regexp_replace(F.regexp_replace(c, "[^a-zA-Z0-9]", "-"), "[^\\x01-\\x7F]", "")
    )


def ascii_clean_py(name: str) -> str:
    s = re.sub(r"[^a-zA-Z0-9]", "-", name)
    s = re.sub(r"[^\x01-\x7f]", "", s)
    return s.lower()


# ---------------------------------------------------------------------
# F3 ts_id construction (reference: identifiers.py:32-43).
def store_id_col(repo: Column | str, station: Column, module: Column, dtype: Column) -> Column:
    repo_c = F.lit(repo) if isinstance(repo, str) else repo
    return F.concat_ws(
        "/",
        F.concat(F.lit("shyft://"), repo_c),
        ascii_clean(station),
        ascii_clean(module),
        ascii_clean(dtype),
    )


def query_id_col(scheme: str, station: Column, module: Column, dtype: Column) -> Column:
    return F.format_string(
        scheme + "://?station_name=%s&module_name=%s&data_type=%s", station, module, dtype
    )


# ---------------------------------------------------------------------
# F4 URL parsing (reference: identifiers.py:46-56). Data-plane:
# parse_url handles scheme/host/path/query natively in the JVM.
def url_scheme(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_url(c, F.lit("PROTOCOL"))


def url_param(col: Column | str, key: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_url(c, F.lit("QUERY"), F.lit(key))


# ---------------------------------------------------------------------
# F7 number formatting (reference: dtss_serve_test.py:314: f'{v:0.2f} °C').
def format_value(col: Column | str, unit: str, decimals: int = 2) -> Column:
    # format_string, NOT format_number: the reference's f'{v:0.2f}'
    # (dtss_serve_test.py:314) never inserts thousands separators —
    # '1013.25 ppm', not '1,013.25 ppm'.
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.format_string(f"%.{int(decimals)}f", c), F.lit(" " + unit))


# ---------------------------------------------------------------------
# F8 threshold color binning (reference: dtss_serve_test.py:289-301:
# temperature sign band and CO2 600/1000 bands).
def threshold_bins(col: Column | str, thresholds: list[float], labels: list[str]) -> Column:
    """Map value -> labels[i] for the first threshold it is below;
    labels[-1] if >= all thresholds. len(labels) == len(thresholds)+1."""
    if len(labels) != len(thresholds) + 1:
        raise ValueError("need len(labels) == len(thresholds) + 1")
    c = F.col(col) if isinstance(col, str) else col
    if not thresholds:
        # zero thresholds is a valid contract instance: one band
        return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(labels[0])
    # NULL first: every `c < t` is NULL for a NULL value, which would
    # fall through to otherwise() — painting MISSING data with the
    # most-severe band's label/color. No data -> no label.
    expr = F.when(c.isNull(), F.lit(None).cast("string")).when(
        c < thresholds[0], labels[0]
    )
    for i in range(1, len(thresholds)):
        expr = expr.when(c < thresholds[i], labels[i])
    return expr.otherwise(labels[-1])
