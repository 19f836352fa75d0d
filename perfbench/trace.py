"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from outside the engine: the benchmark wraps the
engine's public entry points (``install``) and its own action calls
(``Tracer.span``). Each span runs its Spark jobs under its own job
group, so the jobs, stages and tasks it launched are read back from
``statusTracker()`` once the run is over. Timed runs use ``NullTracer``,
whose spans cost nothing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time

from perfbench.stats import self_time

_GROUP = "spark.jobGroup.id"


class NullTracer:
    """Tracer stand-in for the timed (untraced) runs."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def op(self, kind: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.op_kind: str | None = None
        self._stack: list[int] = []
        self._ops = itertools.count()

    @contextlib.contextmanager
    def op(self, kind: str):
        """Tag the spans opened inside with one operation id."""
        prev = self.op_id, self.op_kind
        self.op_id, self.op_kind = next(self._ops), kind
        try:
            yield self.op_id
        finally:
            self.op_id, self.op_kind = prev

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "op_kind": self.op_kind,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        outer = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, outer)

    # -- post-run resolution ------------------------------------------------
    def resolve(self) -> list[dict]:
        """Attach Spark job/stage/task counts (own and inclusive of
        children) and self time to every span."""
        jsc = self.sc._jsc.sc()
        try:
            # the status store is fed asynchronously by the listener bus
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API moved: fall back to a short wait
            time.sleep(1.0)
        st = self.sc.statusTracker()
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            jobs = list(st.getJobIdsForGroup(f"perfbench-{s['id']}"))
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:  # None: skipped (reused) stage
                        stages += 1
                        tasks += si.numTasks
            s["own"] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
            ch = kids.get(s["id"], [])
            s["self_s"] = self_time(s["start"], s["end"], [(c["start"], c["end"]) for c in ch])
        # inclusive counts, children before parents (ids grow with start)
        for s in reversed(self.spans):
            tot = dict(s["own"])
            for c in kids.get(s["id"], []):
                for k in tot:
                    tot[k] += c["spark"][k]
            s["spark"] = tot
        return self.spans

    def named(self, name: str, op_kind: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (op_kind is None or s["op_kind"] == op_kind)
        ]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# -- wrappers around the engine's public calls ------------------------------
def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return inner


@contextlib.contextmanager
def install(tracer: Tracer):
    """Wrap the engine's layer boundaries in spans for the duration of
    the block: evaluate/store_ts (evaluate), scan/store/compact/find
    (store), ChunkedFileAdapter.read (sources) and
    DataCollectionTask.collect (pipeline). Lazy calls (evaluate, scan,
    find, read) measure planning only; callers time actions as spans of
    their own."""
    from my_weather_spark.evaluate import TsEngine
    from my_weather_spark.pipeline import DataCollectionTask
    from my_weather_spark.sources.file_source import ChunkedFileAdapter
    from my_weather_spark.store import TsStore

    targets = [
        (TsEngine, "evaluate", "evaluate.plan"),
        (TsEngine, "store_ts", "evaluate.store_ts"),
        (TsStore, "scan", "store.scan.plan"),
        (TsStore, "store", "store.store"),
        (TsStore, "compact", "store.compact"),
        (TsStore, "find", "store.find.plan"),
        (ChunkedFileAdapter, "read", "sources.read.plan"),
        (DataCollectionTask, "collect", "pipeline.collect"),
    ]
    saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _ in targets]
    for cls, attr, name in targets:
        setattr(cls, attr, _wrap(tracer, name, getattr(cls, attr)))
    try:
        yield tracer
    finally:
        for cls, attr, fn in saved:
            setattr(cls, attr, fn)
