"""The two workloads. Each builds its inputs from the seed, sets up,
runs its timed window through the engine's public API, checks every
output against ``perfbench.oracle`` and returns op latencies plus the
layer measurements of a traced run.

* service — the weather service's steady state, closed loop, 1 client:
            one round of ten dashboard queries (``TsEngine.evaluate`` +
            collect, some with resample and RDP) followed by two
            ``DataCollectionTask.collect`` cycles (a rate-limited
            ``ChunkedFileAdapter`` read merged into the ``TsStore``),
            then the daily compact + find slot.
* curate  — one cold ``curate_corpus`` pass per process (batch).

Each timed window is a fixed amount of work, so a faster engine gets a
shorter window, not a different workload.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np
import pandas as pd

from perfbench import inputs, oracle
from perfbench.trace import NullTracer

# Input sizes. "full" is the benchmark; "tiny" is the smoke-test size.
SIZES = {
    "full": {
        "events": 40_000, "stations": 50, "days": 12, "history_days": 10,
        "docs": 1000, "bench_docs": 100, "setup_reps": 3,
    },
    "tiny": {
        "events": 1_000, "stations": 5, "days": 12, "history_days": 10,
        "docs": 200, "bench_docs": 20, "setup_reps": 2,
    },
}

# One block of dashboard queries: (store refs, days, kind). A "live"
# query adds one ref read straight from a live source; a "dashboard"
# query also runs resample and RDP on the result. Every block holds the
# same mix in the same order, so per-run mean latencies compare across
# seeds; the seed picks the series and the periods. The timed round is
# one block followed by CYCLES collection cycles.
BLOCK = [
    (1, 1, "plain"), (1, 3, "live"), (1, 7, "plain"), (4, 1, "plain"),
    (4, 3, "dashboard"), (4, 7, "live"), (16, 1, "plain"), (16, 3, "plain"),
    (16, 7, "dashboard"), (16, 7, "plain"),
]
# Queries read days [0, QUERY_DAYS]: history the collection cycles
# (which re-ingest from day history_days - 3 h on) never rewrite.
QUERY_DAYS = 9
CYCLES = 2

HOUR = timedelta(hours=1)
HOUR_US = 3_600_000_000


@dataclass
class Outcome:
    latencies_s: list[float] = field(default_factory=list)
    window_s: float = 0.0  # the timed window: every op above, plus busy_s
    attempted: int = 0
    failed: int = 0
    items: float = 0.0  # points stored (service) / docs curated (curate)
    busy_s: float = 0.0  # time the items took: cycles + compact + find / the pass
    setup_s: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def attempt(self, what: str, fn):
        """Run one op, counting it; a raise is recorded as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted, reported, and fails the gate
            self.failed += 1
            self.errors.append(f"{what} raised {type(e).__name__}: {e}")
            return None


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _sid(p: int) -> tuple[int, str]:
    n = len(inputs.EVENT_TYPES)
    return p // n, inputs.EVENT_TYPES[p % n]


# -- service --------------------------------------------------------------------
def _queries(rng: np.random.Generator, stations: int):
    """Endless stream of blocks of dashboard queries."""
    n_series = stations * len(inputs.EVENT_TYPES)
    while True:
        for nrefs, ndays, kind in BLOCK:
            refs = [inputs.store_id(*_sid(p)) for p in rng.choice(n_series, nrefs, replace=False)]
            if kind == "live":
                refs.append(inputs.live_id(*_sid(int(rng.integers(n_series)))))
            start = inputs.EPOCH + int(rng.integers(0, (QUERY_DAYS - ndays) * 24 + 1)) * HOUR
            yield {
                "refs": refs,
                "start": start,
                "end": start + ndays * 24 * HOUR,
                "dashboard": kind == "dashboard",
            }


def _query(engine, q: dict, tracer) -> None:
    from my_weather_spark.model import UtcPeriod
    from my_weather_spark.ops import timeseries as ts_ops

    res = engine.evaluate(q["refs"], UtcPeriod(q["start"], q["end"]))
    if not q["dashboard"]:
        with tracer.span("evaluate.exec"):
            q["rows"] = res.collect()
        return
    with tracer.span("evaluate.exec"):
        mat = res.localCheckpoint(eager=True)
        q["rows"] = mat.collect()
    with tracer.span("ops.resample"):
        q["resample"] = ts_ops.resample(mat, "1 hour").collect()
    with tracer.span("ops.rdp"):
        q["rdp"] = ts_ops.rdp_downsample(mat).collect()


def service(spark, work: str, size: dict, seed: int, tracer) -> Outcome:
    from my_weather_spark.evaluate import TsEngine
    from my_weather_spark.pipeline import DataCollectionPeriodRelative, DataCollectionTask
    from my_weather_spark.session import EngineSession
    from my_weather_spark.sources.file_source import ChunkedFileAdapter
    from my_weather_spark.sources.rate_limiter import RateLimiter
    from my_weather_spark.store import TsStore

    out = Outcome()
    ev = inputs.events(seed, size["events"], size["stations"], size["days"])
    pts = inputs.with_ids(ev, inputs.store_id)
    live = inputs.with_ids(ev, inputs.live_id)
    cloud = inputs.with_ids(ev, inputs.cloud_id)
    split = inputs.EPOCH + timedelta(days=size["history_days"])
    history = pts[pts["ts_us"] < inputs.us(split)]
    # Cycle k collects [now_k - 6 h, now_k] at now_k = split + 3 h (k + 1),
    # so every cycle re-ingests half of the one before (the first, half of
    # the stored history). The source serves each cycle's window with
    # values re-perturbed from the seed, so every overlap is a real
    # replacement.
    rng = np.random.default_rng([seed, 4])
    cycles = []
    for k in range(CYCLES):
        now = split + 3 * HOUR * (k + 1)
        win = cloud[cloud["ts_us"].between(inputs.us(now) - 6 * HOUR_US, inputs.us(now))].copy()
        win["value"] = np.round(win["value"].to_numpy() + rng.normal(0.0, 5.0, len(win)), 2)
        cycles.append((now, win))

    # Set-up: the source files and the store of the history days. It runs once:
    # this first store() pays the JVM's cold start, so repeats would not
    # measure the same thing.
    t = time.perf_counter()
    store_path = os.path.join(work, "store")
    engine = TsEngine(EngineSession(spark), TsStore(spark, store_path))
    # two batches, so the cycles' merge path is warm too
    half = inputs.us(inputs.EPOCH + timedelta(days=size["history_days"] // 2))
    for i, part in enumerate([history[history["ts_us"] < half], history[history["ts_us"] >= half]]):
        part_path = os.path.join(work, f"history{i}.parquet")
        inputs.write_points(part, part_path)
        engine.store_ts(spark.read.parquet(part_path), source="bench", ingest_time=split)
    live_path = os.path.join(work, "live.parquet")
    inputs.write_points(live, live_path)
    paths = [os.path.join(work, f"cycle{k}.parquet") for k in range(CYCLES)]
    for path, (_, win) in zip(paths, cycles):
        inputs.write_points(win, path)
    waits: list[float] = []
    limits = [  # the reference's 45 / 10 s and 450 / h, sleeps counted
        RateLimiter(45, 10.0, sleep=waits.append),
        RateLimiter(450, 3600.0, sleep=waits.append),
    ]
    source = ChunkedFileAdapter("cloud", paths[0], rate_limiters=limits)
    live_src = ChunkedFileAdapter("live", live_path)
    engine.session.register_adapter(source)
    engine.session.register_adapter(live_src)
    ids = history.drop_duplicates("series_id")["series_id"].tolist()
    task = DataCollectionTask(
        "bench", engine, [i.replace("shyft://", "cloud://", 1) for i in ids], ids,
        DataCollectionPeriodRelative(start_offset=6 * 3600), source="bench",
    )
    warm = next(q for q in _queries(np.random.default_rng([seed, 5]), size["stations"]) if q["dashboard"])
    _query(engine, warm, NullTracer())  # also starts the Python workers RDP uses
    out.setup_s.append(time.perf_counter() - t)

    def cycle(k: int) -> int:
        source.path = paths[k]
        with tracer.op("cycle"):
            return task.collect(now=cycles[k][0])

    queries = _queries(np.random.default_rng([seed, 3]), size["stations"])
    done: list[dict] = []
    for q in (next(queries) for _ in BLOCK):
        t = time.perf_counter()
        with tracer.op("dashboard" if q["dashboard"] else "plain"):
            ok = out.attempt("query", lambda: _query(engine, q, tracer) or True)
        if ok:
            out.latencies_s.append(time.perf_counter() - t)
            done.append(q)
    for k in range(CYCLES):
        t = time.perf_counter()
        out.items += out.attempt(f"cycle {k}", lambda: cycle(k)) or 0
        out.busy_s += time.perf_counter() - t
    if tracer.enabled:  # probes of lazy calls' actions, outside the timed ops
        _scan_probe(engine, done, tracer)
        _read_probe(engine, task, [now for now, _ in cycles], paths, tracer)
    t = time.perf_counter()
    with tracer.op("maintenance"):
        out.attempt("compact", engine.store.compact)
        with tracer.span("store.find"):
            found = out.attempt(
                "find", lambda: engine.store.find(fast=True).select("name", "n_points").collect()
            )
    out.busy_s += time.perf_counter() - t
    out.window_s = sum(out.latencies_s) + out.busy_s

    if tracer.enabled:
        n_files, size_b = _files(store_path)
        out.layers.update({
            "store.files": n_files,
            "store.bytes_per_point": size_b / max(1, sum(r[1] for r in found or [])),
            "sources.calls": source.calls_made,
            "sources.rate_limit_waits": len(waits),
        })

    for q in done:
        q["lo_us"], q["hi_us"] = inputs.us(q["start"]), inputs.us(q["end"])
    out.errors += oracle.check_serve(pd.concat([history, live]), done)
    stored = engine.store.scan().select("series_id", "ts", "value").collect()
    batches = pd.concat([history.assign(ingest_us=inputs.us(split))] + [
        win.assign(series_id=win["series_id"].str.replace("cloud://", "shyft://", n=1), ingest_us=inputs.us(now))
        for now, win in cycles
    ])
    out.errors += oracle.check_collect(batches, stored, found or [])
    if waits:
        out.errors.append(f"rate limiter waited {len(waits)} times; expected none")
    return out


def _scan_probe(engine, done: list[dict], tracer) -> None:
    """store.scan is lazy inside evaluate; time its action once per
    plain query, outside the query's own latency, on the store layout
    the queries read (before compact)."""
    from my_weather_spark.model import UtcPeriod

    for q in done:
        if q["dashboard"]:
            continue
        ids = [r for r in q["refs"] if r.startswith("shyft://")]
        with tracer.op("scan_probe"), tracer.span("store.scan"):
            engine.store.scan(ids, UtcPeriod(q["start"], q["end"])).collect()


def _read_probe(engine, task, nows: list, paths: list[str], tracer) -> None:
    """ChunkedFileAdapter.read is lazy; its parquet read runs in the
    cycle's checkpoint. Time that read once per cycle, on the cycle's
    refs, period and file, through an adapter without the rate limiters,
    so the probe takes none of their tokens."""
    from my_weather_spark.model import SeriesRef
    from my_weather_spark.sources.file_source import ChunkedFileAdapter

    refs = [SeriesRef.parse(u) for u in task.read_ts]
    for now, path in zip(nows, paths):
        with tracer.op("read_probe"), tracer.span("sources.read"):
            ChunkedFileAdapter("cloud", path).read(engine.spark, refs, task.period_spec.period(now)).collect()


# -- curate ---------------------------------------------------------------------
SEED_SHIFT = 10**9  # bench docs take ids disjoint from the corpus


def curate(spark, work: str, size: dict, seed: int, tracer) -> Outcome:
    from my_weather_spark.llm.pipeline import curate_corpus

    out = Outcome()
    docs = inputs.documents(seed, size["docs"])
    bench = inputs.documents(seed + SEED_SHIFT, size["bench_docs"], first_id=SEED_SHIFT)
    # Set-up (writing and opening the inputs) is cheap, so it is repeated
    # and the median reported; the pass itself stays cold.
    for rep in range(size["setup_reps"]):
        t = time.perf_counter()
        d_path = os.path.join(work, f"docs{rep}.parquet")
        b_path = os.path.join(work, f"bench{rep}.parquet")
        docs.to_parquet(d_path, index=False)
        bench.to_parquet(b_path, index=False)
        docs_df = spark.read.parquet(d_path)
        bench_df = spark.read.parquet(b_path).select("doc_id", "text")
        out.setup_s.append(time.perf_counter() - t)

    def run_pass():
        with tracer.op("pass"), tracer.span("llm.pipeline"):
            res, report = curate_corpus(docs_df, benchmark=bench_df, seed=str(seed))
            res.write.format("noop").mode("overwrite").save()
        return res, report

    t0 = time.perf_counter()
    done = out.attempt("curate_corpus", run_pass)
    if done is None:
        return out
    res, report = done
    out.busy_s = out.window_s = time.perf_counter() - t0
    out.latencies_s.append(out.busy_s)
    out.items = len(docs)

    ref = oracle.curate_reference(docs, bench)
    out_ids = [r[0] for r in res.select("doc_id").collect()]
    out.errors += oracle.check_curate(report, out_ids, ref)
    if tracer.enabled:
        n_near, layers = _curate_replay(docs_df, bench_df, seed, tracer)
        if n_near != report.clean.n_after_near:
            out.errors.append(
                f"stage replay kept {n_near} docs, pipeline n_after_near {report.clean.n_after_near}"
            )
        out.layers.update(layers)
    return out


def _curate_replay(docs, bench, seed: int, tracer) -> tuple[int, dict]:
    """Re-run curate_corpus's stages one by one, each materialized in its
    own span, with the pipeline's defaults."""
    from pyspark.sql import functions as F

    from my_weather_spark.llm import decontam, dedup, packing, sampling
    from my_weather_spark.llm import text as text_ops

    def stage(name, build):
        with tracer.span(name):
            df = build().localCheckpoint(eager=True)
            return df, df.count()

    with tracer.op("replay"):
        q, _ = stage("text.quality", lambda: text_ops.quality_filter(docs, min_words=10, max_punct_ratio=0.3))
        exact, _ = stage("dedup.exact", lambda: dedup.drop_exact_duplicates(q))
        cand, n_cand = stage("dedup.lsh", lambda: dedup.minhash_lsh_pairs(exact))
        ver, n_ver = stage("dedup.verify", lambda: dedup.jaccard_for_candidates(exact, cand, min_jaccard=0.85))
        comp, _ = stage("dedup.components", lambda: dedup.connected_components_star(ver, a_col="doc_a", b_col="doc_b"))
        losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
        surv, n_near = stage("dedup.antijoin", lambda: exact.join(losers, "doc_id", "left_anti"))
        clean, _ = stage(
            "text.analysis",
            lambda: surv.join(text_ops.token_stats(surv), "doc_id")
            .join(text_ops.language_id(surv), "doc_id")
            .join(text_ops.fingerprint(surv), "doc_id"),
        )
        clean, _ = stage("decontam", lambda: decontam.decontaminate(clean, bench, n=5))
        labeled, _ = stage(
            "sampling.split",
            lambda: sampling.split_assign(
                clean, weights=(0.98, 0.01, 0.01), labels=("train", "val", "test"), seed=str(seed)
            ),
        )
        stage(
            "packing.pack",
            lambda: packing.pack_chunks(
                labeled.where(F.col("split") == "train"), capacity=2048,
                token_col="n_tokens_est", group_col="source",
            ),
        )
    return n_near, {
        "dedup.candidate_pairs": n_cand,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
    }


WORKLOADS = {"service": service, "curate": curate}
