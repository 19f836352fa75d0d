#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarize each metric's spread.

    python3 perfbench/calibrate.py [--workload W] [--out FILE]

For every workload in BENCHMARK.json (or each ``--workload``): SETS sets
of RUNS untraced runs, set i on seeds ``i * RUNS + 1`` upwards; TRACED
traced runs of the first seeds; one untraced run of the HOLDOUT seed. Reports per set and end-to-end metric the median,
quartiles and (q3 - q1) / median; the change of each median from the
first set to the last, as a share of the first; per per-layer metric the
median over the traced runs; the tracing overhead (median traced
``wall_s`` over the median ``wall_s`` of the last set, the runs just
before them, minus one: the host's speed drifts over the minutes a set
takes) and the wall time of every run. ``--out`` merges the report into
FILE, replacing only the workloads run. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartile_spread  # noqa: E402

RUNS, SETS, TRACED = 10, 2, 3
HOLDOUT = 1009  # a seed no calibration set uses; claimed gains must hold on it too


def one_run(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    res = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
    res.update({"seed": seed, "trace": trace, "rc": p.returncode, "run_s": time.perf_counter() - t})
    if p.returncode:
        res["stderr_tail"] = p.stderr.strip().splitlines()[-5:]
    print(json.dumps({k: res[k] for k in ("seed", "trace", "rc", "run_s")}), file=sys.stderr)
    return res


def host() -> str:
    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), "?")
    with open("/proc/meminfo") as f:
        mem_gb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) / 2**20
    return f"{len(os.sched_getaffinity(0))} CPUs ({cpu}), {mem_gb:.0f} GB RAM"


def tracing_overhead(rep: dict) -> float:
    return rep["per_layer_median"]["trace.wall_s"] / rep["sets"][-1]["metrics"]["wall_s"]["median"] - 1


def summarize(runs: list[dict], bench: dict) -> dict:
    ok = [r for r in runs if r["rc"] == 0 and r.get("correct")]
    out = {
        "seeds": [r["seed"] for r in runs], "ok": len(ok),
        "run_s": [round(r["run_s"], 1) for r in runs], "metrics": {},
    }
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(vals) >= 2:
            med, q1, q3, spread = quartile_spread(vals)
            out["metrics"][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    bench = json.load(open("BENCHMARK.json"))
    cmd, secs = bench["command"], bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        sets = []
        for i in range(SETS):
            seeds = range(i * RUNS + 1, (i + 1) * RUNS + 1)
            sets.append([one_run(cmd, w, s, secs, 0) for s in seeds])
        traced = [one_run(cmd, w, s, secs, 1) for s in range(1, TRACED + 1)]
        holdout = one_run(cmd, w, HOLDOUT, secs, 0)
        rep = {"sets": [summarize(runs, bench) for runs in sets], "bounds": bounds}
        first, last = rep["sets"][0]["metrics"], rep["sets"][-1]["metrics"]
        rep["median_change"] = {
            k: last[k]["median"] / first[k]["median"] - 1 for k in first if k in last
        }
        if traced and all(r["rc"] == 0 for r in traced):
            rep["per_layer_median"] = {
                k: statistics.median(r["metrics"][k]["value"] for r in traced)
                for k in traced[0]["metrics"]
            }
            rep["tracing_overhead"] = tracing_overhead(rep)
        rep["traced_run_s"] = [round(r["run_s"], 1) for r in traced]
        rep["holdout"] = {k: holdout.get(k) for k in ("seed", "rc", "correct", "metrics")}
        rep["failed_runs"] = [r for r in sum(sets, []) + traced + [holdout] if r["rc"] != 0]
        report[w] = rep
        print(json.dumps({w: [{k: v["spread"] for k, v in s["metrics"].items()} for s in rep["sets"]]}),
              file=sys.stderr)
    if args.out:
        doc = json.load(open(args.out)) if os.path.exists(args.out) else {}
        doc.setdefault("workloads", {}).update(report)
        doc["holdout_seed"] = HOLDOUT
        doc["host"] = host()
        with open(args.out, "w") as f:
            f.write(json.dumps(doc, indent=1) + "\n")
    print(json.dumps(report, indent=1))
    return 0 if all(not r["failed_runs"] for r in report.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
