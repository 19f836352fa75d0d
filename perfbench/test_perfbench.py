"""The benchmark's own tests: the metric arithmetic, the curation
reference, and a smoke run of every workload at the tiny size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle, stats  # noqa: E402


# -- arithmetic -----------------------------------------------------------------
@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = list(np.random.default_rng(1).exponential(5.0, 37))
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_cases():
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_fail_ratio():
    assert stats.fail_ratio(10, 0) == 0.0
    assert stats.fail_ratio(8, 2) == 0.25
    for attempted, failed in [(0, 0), (3, 4), (3, -1)]:
        with pytest.raises(ValueError):
            stats.fail_ratio(attempted, failed)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == (med, q1, q3, (q3 - q1) / med)


def test_self_time_subtracts_covered_child_time_once():
    # span [0, 10]; children overlap on [2, 4] and one spills past the end
    children = [(1.0, 4.0), (2.0, 5.0), (8.0, 12.0)]
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(10 - 4 - 2)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0


# -- curation reference -----------------------------------------------------------
def test_curate_reference_by_hand():
    base = "spark window merge table column vector stream value data small join"
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4, 5],
        "text": [
            base,
            base,  # exact copy of 0
            " ".join(reversed(base.split())),  # same word set: near-dup of 0
            "filter big group hash customer sort order slow line part fast",
            "too short",
            "row the agg key query a scan batch filter big group hash",
        ],
    })
    bench = pd.DataFrame({"text": ["x row the agg key query y"]})
    ref = oracle.curate_reference(docs, bench)
    assert ref["n_after_quality"] == 5
    assert ref["n_after_exact"] == 4
    assert ref["n_near_dup_pairs"] == 1
    assert ref["n_after_near"] == 3
    assert ref["n_after_decontam"] == 2
    assert ref["ids"] == [0, 3]


# -- smoke: every workload at the tiny size ---------------------------------------
@pytest.fixture(scope="module")
def session():
    from perfbench import run

    os.environ.update(run.host_env())
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    spark = run.start_session()
    yield run, spark
    run.stop_session(spark)


@pytest.mark.parametrize("workload", ["service", "curate"])
@pytest.mark.parametrize("trace", [False, True])
def test_smoke(session, workload, trace):
    import json

    run, spark = session
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    res = run.run(workload, 7, trace, "tiny", spark, 1.0)
    assert res["errors"] == []
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["samples"]) == set(res["metrics"]) and min(res["samples"].values()) >= 1
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
