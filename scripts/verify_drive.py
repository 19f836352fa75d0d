"""End-to-end verification drive (the /verify flow, runnable).

Covers both runtime surfaces in one process:

1. LIBRARY BOUNDARY — import the engine from OUTSIDE the repo layout:
   EngineSession + adapters + TsStore + DataCollectionTask with two
   OVERLAPPING collection passes (inclusive endpoints, merge-dedup),
   evaluate() ordering by query_index, unknown-scheme KeyError,
   malformed-url ValueError, healthy().
2. DRIVER CONTRACT — entry() smoke check, then each named query (args,
   default: a representative trio) run on Spark at sf0.01 AND its
   DuckDB oracle twin, values compared bit-for-bit (column-name-sorted,
   stringified), in a VANILLA SparkSession — the way the driver runs.

Usage: python scripts/verify_drive.py [query ...]
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

DEFAULT_QUERIES = ["q1_pricing_summary", "minhash_lsh_pairs", "running_total"]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def _dt(s):
    return dt.datetime.fromtimestamp(s, tz=dt.timezone.utc)


def library_boundary(spark):
    from my_weather_spark.evaluate import TsEngine
    from my_weather_spark.model import UtcPeriod
    from my_weather_spark.pipeline import (
        DataCollectionPeriodAbsolute,
        DataCollectionTask,
    )
    from my_weather_spark.session import EngineSession
    from my_weather_spark.sources.heartbeat import HeartbeatAdapter
    from my_weather_spark.sources.mock import MockAdapter
    from my_weather_spark.store import TsStore

    tmp = tempfile.mkdtemp()
    sess = EngineSession(spark)
    sess.register_adapter(MockAdapter("mock1", dt_seconds=1))
    sess.register_adapter(HeartbeatAdapter())
    engine = TsEngine(sess, TsStore(spark, tmp + "/store"))

    read_ids = ["mock1://station/7", "mock1://other/2"]
    store_ids = ["shyft://c/a/m/seven", "shyft://c/a/m/two"]
    DataCollectionTask(
        "p1", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(0), _dt(400)),
    ).collect(now=_dt(1000))
    DataCollectionTask(
        "p2", engine, read_ids, store_ids,
        DataCollectionPeriodAbsolute(_dt(300), _dt(600)),
    ).collect(now=_dt(2000))

    rows = engine.evaluate(list(reversed(store_ids)), UtcPeriod(0, 10**6)).collect()
    by_idx = {}
    for r in rows:
        by_idx.setdefault(r["query_index"], []).append(r)
    assert set(by_idx) == {0, 1}
    assert all(len(v) == 601 for v in by_idx.values()), {
        k: len(v) for k, v in by_idx.items()
    }
    idx = [r["query_index"] for r in rows]
    assert idx == sorted(idx), "results not ordered by query_index"
    assert {r["value"] for r in by_idx[0]} == {2.0}
    assert {r["value"] for r in by_idx[1]} == {7.0}
    try:
        engine.evaluate(["bogus://x/1"], UtcPeriod(0, 1))
        raise SystemExit("expected KeyError for unknown scheme")
    except KeyError:
        pass
    try:
        engine.evaluate(["not a url at all"], UtcPeriod(0, 1))
        raise SystemExit("expected ValueError for malformed url")
    except ValueError:
        pass
    assert min(r["ts"] for r in by_idx[0]) == _dt(0).replace(tzinfo=None)
    assert engine.healthy()
    print("LIBRARY BOUNDARY: OK")


def driver_contract(spark, names):
    import __spark_entry__ as e
    from _duck import oracle_connect

    df = e.entry(spark)
    n = df.count()
    assert n >= 0 and len(df.schema) > 0
    print(f"entry(): {n} rows OK")

    # JVM-headroom oracle connection (_duck.py r10 convoy note)
    con = oracle_connect(SF_DIR)
    oracles = e.oracle_sql()
    for name in names:
        q = e.queries()[name](spark, SF_DIR)
        if name not in oracles:
            print(f"{name}: rows-only ({q.count()} rows)")
            continue
        cols = sorted(q.columns)
        srows = sorted(tuple(str(r[c]) for c in cols) for r in q.collect())
        rel = con.sql(oracles[name])
        order = [rel.columns.index(c) for c in sorted(rel.columns)]
        drows = sorted(tuple(str(row[i]) for i in order) for row in rel.fetchall())
        assert srows == drows, f"{name}: {len(srows)} vs {len(drows)} rows"
        print(f"{name}: {len(srows)} rows bit-match vs duckdb OK")


def main():
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = (
        SparkSession.builder.master("local[8]").appName("verify_drive").getOrCreate()
    )
    library_boundary(spark)
    driver_contract(spark, names)
    print("ALL VERIFY FLOWS: OK")


if __name__ == "__main__":
    main()
