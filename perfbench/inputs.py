"""Seeded input generators. The engine sees only what these return; the
same seed always gives the same inputs.

* ``events``: observations of ``stations x len(EVENT_TYPES)`` series over
  ``days`` UTC days, unique (series, ts), 2-decimal values — the shape of
  the sf0.1 ``events`` table mapped to ``s{user_id % 50}/m/{event_type}``.
* ``documents``: a bag-of-words corpus over a 30-word vocabulary in the
  shape of the sf0.1 ``documents`` table (10-100 words, five languages,
  twenty round-robin sources) plus a few exact copies and short docs, so
  every curation stage has work to do.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAY_US = 86_400_000_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def store_id(station: int, etype: str) -> str:
    return f"shyft://bench/s{station}/m/{etype}"


def cloud_id(station: int, etype: str) -> str:
    """The collection source's id of a series."""
    return f"cloud://bench/s{station}/m/{etype}"


def live_id(station: int, etype: str) -> str:
    """The id of a series on the live source dashboards read directly."""
    return f"live://bench/s{station}/m/{etype}"


def us(dt: datetime) -> int:
    """Epoch microseconds of a whole-second UTC datetime."""
    return int(dt.timestamp()) * 1_000_000


def events(seed: int, n_rows: int, stations: int, days: int) -> pd.DataFrame:
    """(station, etype, ts_us, value) sorted by series then ts; ts_us is
    epoch microseconds, unique within a series."""
    rng = np.random.default_rng([seed, 1])
    n_series = stations * len(EVENT_TYPES)
    series = rng.integers(0, n_series, n_rows)
    start_us = int(EPOCH.timestamp()) * 1_000_000
    ts = start_us + rng.integers(0, days * DAY_US, n_rows)
    value = np.round(rng.uniform(0.0, 200.0, n_rows), 2)
    df = pd.DataFrame({"series": series, "ts_us": ts, "value": value})
    df = df.drop_duplicates(["series", "ts_us"]).sort_values(["series", "ts_us"])
    return pd.DataFrame(
        {
            "station": (df["series"] // len(EVENT_TYPES)).to_numpy(),
            "etype": np.array(EVENT_TYPES)[df["series"] % len(EVENT_TYPES)],
            "ts_us": df["ts_us"].to_numpy(),
            "value": df["value"].to_numpy(),
        }
    ).reset_index(drop=True)


def with_ids(ev: pd.DataFrame, id_fn) -> pd.DataFrame:
    ids = [id_fn(s, e) for s, e in zip(ev["station"], ev["etype"])]
    return pd.DataFrame({"series_id": ids, "ts_us": ev["ts_us"], "value": ev["value"]})


def write_points(df: pd.DataFrame, path: str) -> None:
    """(series_id, ts_us, value) -> parquet (series_id, ts, value) with a
    UTC-adjusted timestamp, which Spark reads as a plain TimestampType."""
    table = pa.table(
        {
            "series_id": pa.array(df["series_id"], pa.string()),
            "ts": pa.array(df["ts_us"].to_numpy(), pa.timestamp("us", tz="UTC")),
            "value": pa.array(df["value"].to_numpy(), pa.float64()),
        }
    )
    pq.write_table(table, path)


def documents(seed: int, n_docs: int, first_id: int = 0) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars): 2% short docs (5-9 words,
    dropped by the quality gate), 0.5% exact copies of earlier docs."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(10, 101, n_docs)
    short = rng.random(n_docs) < 0.02
    lengths[short] = rng.integers(5, 10, int(short.sum()))
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), n)]) for n in lengths]
    for i in np.flatnonzero(rng.random(n_docs) < 0.005):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
