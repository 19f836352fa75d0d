"""Per-layer metrics of a traced run, computed from its resolved spans.

Every workload reports the same names; a layer the workload never
enters reads 0. Medians are over the ops of the kind each layer is
mapped to: plain dashboard queries for evaluate, collection cycles for
store writes and the pipeline, the probes after the round for the
actions of the lazy store scan and source read."""

from __future__ import annotations

import statistics

CURATE_STAGES = [
    ("text.quality", "text.quality_ms"),
    ("dedup.exact", "dedup.exact_ms"),
    ("dedup.lsh", "dedup.lsh_ms"),
    ("dedup.verify", "dedup.verify_ms"),
    ("dedup.components", "dedup.components_ms"),
    ("dedup.antijoin", "dedup.antijoin_ms"),
    ("text.analysis", "text.analysis_ms"),
    ("decontam", "decontam.ms"),
    ("sampling.split", "sampling.split_ms"),
    ("packing.pack", "packing.pack_ms"),
]

# name -> unit, in report order
UNITS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "evaluate.plan_ms": "ms",
    "evaluate.exec_ms": "ms",
    "evaluate.spark_jobs": "count",
    "evaluate.spark_stages": "count",
    "evaluate.spark_tasks": "count",
    "store.scan_ms": "ms",
    "store.store_ms": "ms",
    "store.store_jobs": "count",
    "store.compact_ms": "ms",
    "store.find_ms": "ms",
    "store.files": "count",
    "store.bytes_per_point": "B/point",
    "sources.read_ms": "ms",
    "sources.calls": "count",
    "sources.rate_limit_waits": "count",
    "pipeline.collect_ms": "ms",
    "pipeline.self_ms": "ms",
    "pipeline.spark_jobs": "count",
    "pipeline.spark_stages": "count",
    "ops.resample_ms": "ms",
    "ops.rdp_ms": "ms",
    **{metric: "ms" for _, metric in CURATE_STAGES},
    "dedup.components_jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "llm.pipeline_ms": "ms",
    "llm.pipeline.self_ms": "ms",
    "trace.wall_s": "s",
    "trace.spans": "count",
}


def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, out, session_s: float, jvm_rss_mb: float) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is None and s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    plain = [ss for ss in by_op.values() if ss[0]["op_kind"] == "plain"]

    def med_ms(name, kinds=None):
        return _med(_dur_ms(s) for s in tracer.named(name) if kinds is None or s["op_kind"] in kinds)

    def med_count(name, key):
        return _med(s["spark"][key] for s in tracer.named(name))

    v = {
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": jvm_rss_mb,
        "evaluate.plan_ms": med_ms("evaluate.plan", {"plain"}),
        "evaluate.exec_ms": med_ms("evaluate.exec", {"plain"}),
        "evaluate.spark_jobs": _med(sum(s["spark"]["jobs"] for s in ss) for ss in plain),
        "evaluate.spark_stages": _med(sum(s["spark"]["stages"] for s in ss) for ss in plain),
        "evaluate.spark_tasks": _med(sum(s["spark"]["tasks"] for s in ss) for ss in plain),
        "store.scan_ms": med_ms("store.scan"),
        "store.store_ms": med_ms("store.store", {"cycle"}),
        "store.store_jobs": _med(s["spark"]["jobs"] for s in tracer.named("store.store", "cycle")),
        "store.compact_ms": med_ms("store.compact"),
        "store.find_ms": med_ms("store.find"),
        "store.files": 0,
        "store.bytes_per_point": 0.0,
        "sources.read_ms": med_ms("sources.read"),
        "sources.calls": 0,
        "sources.rate_limit_waits": 0,
        "pipeline.collect_ms": med_ms("pipeline.collect"),
        "pipeline.self_ms": _med(s["self_s"] * 1000 for s in tracer.named("pipeline.collect")),
        "pipeline.spark_jobs": med_count("pipeline.collect", "jobs"),
        "pipeline.spark_stages": med_count("pipeline.collect", "stages"),
        "ops.resample_ms": med_ms("ops.resample"),
        "ops.rdp_ms": med_ms("ops.rdp"),
        "dedup.components_jobs": med_count("dedup.components", "jobs"),
        "dedup.candidate_pairs": 0,
        "dedup.verified_pairs": 0,
        "dedup.verify_yield": 0.0,
        "llm.pipeline_ms": med_ms("llm.pipeline"),
        "trace.wall_s": out.window_s,
        "trace.spans": len(spans),
    }
    for name, metric in CURATE_STAGES:
        v[metric] = med_ms(name)
    if v["llm.pipeline_ms"]:
        v["llm.pipeline.self_ms"] = v["llm.pipeline_ms"] - sum(v[m] for _, m in CURATE_STAGES)
    else:
        v["llm.pipeline.self_ms"] = 0.0
    v.update({k: x for k, x in out.layers.items()})
    return {k: (v[k], UNITS[k]) for k in UNITS}
