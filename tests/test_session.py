"""Session defaults and helpers."""

import threading

from pyspark.sql import functions as F

from my_weather_spark import session

GIB = 1 << 30


def _host(monkeypatch, ram_bytes):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


def test_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 16 * GIB)
    assert session.driver_memory() == "8192m"
    _host(monkeypatch, 15 * GIB + 512 * (1 << 20))
    assert session.driver_memory() == "7936m"
    # a tiny host still gets a usable heap
    _host(monkeypatch, GIB)
    assert session.driver_memory() == "1024m"


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert session.driver_memory() == "8192m"


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _shuffled(spark):
    return (
        spark.range(0, 5000, numPartitions=4)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("id").alias("s"))
    )


def test_checkpoint_runs_no_job_beyond_the_checkpoint(spark):
    # The count and the aggregates ride on the checkpoint's own job(s):
    # as many jobs as a bare eager localCheckpoint of the same plan.
    sc = spark.sparkContext
    _, bare = _jobs(sc, "ckpt_bare", lambda: _shuffled(spark).localCheckpoint(eager=True))
    _, observed = _jobs(
        sc, "ckpt_observed",
        lambda: session.checkpoint(_shuffled(spark), total=F.sum("c")),
    )
    assert bare >= 1 and observed == bare, (observed, bare)


def test_checkpoint_returns_count_and_aggregates(spark):
    out, n, aggs = session.checkpoint(
        _shuffled(spark), total=F.sum("c"), top=F.max("s")
    )
    assert n == 7
    top = max(sum(range(k, 5000, 7)) for k in range(7))
    assert aggs == {"total": 5000, "top": top}
    # the returned frame is the materialized scan, not the aggregate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:500]
    assert sorted(r["k"] for r in out.collect()) == list(range(7))


def test_checkpoint_of_a_provably_empty_frame(spark):
    # The optimizer folds the frame to an empty LocalRelation; the
    # metrics must still arrive instead of blocking the caller.
    got = {}
    empty = spark.range(10).where(F.lit(False))
    t = threading.Thread(
        target=lambda: got.update(r=session.checkpoint(empty, s=F.sum("id"))),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "checkpoint blocked on an empty frame"
    out, n, aggs = got["r"]
    assert n == 0 and aggs == {"s": None} and out.collect() == []
