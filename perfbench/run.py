#!/usr/bin/env python3
"""Engine benchmark runner.

    python3 perfbench/run.py --workload {service,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The engine is imported from the checkout
this file sits in, on ``local[<cpus>]`` in this one process. Each
workload's timed window is a fixed amount of work; ``--seconds`` is
accepted for the harness's interface and does not change it. ``--trace 0``
measures the end-to-end metrics; ``--trace 1`` is a separate run that
records spans around the engine's layer boundaries, writes them to
``.perfbench_out/trace-<workload>-<seed>.json`` and reports the per-layer
metrics. Either way every output is checked against an independent
reference, and the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Exit code 0 only when
every output matched.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def host_env() -> dict[str, str]:
    """Spark settings sized to this host: a driver heap of a quarter of
    RAM up to 4 GB (the engine's own default, 64g, exceeds small hosts),
    one core per usable CPU, scratch inside the checkout."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    return {
        "SPARK_DRIVER_MEMORY": f"{min(4096, total_mb // 4)}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        # traced runs read every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session():
    from my_weather_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=spark_conf())


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def run(workload: str, seed: int, trace: bool, size: str, spark, session_s: float) -> dict:
    """Run one workload in an existing session; returns the result
    object (metrics plus any correctness errors under ``errors``)."""
    from perfbench import layers, stats, workloads
    from perfbench.trace import NullTracer, Tracer, install

    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fn = workloads.WORKLOADS[workload]
    sz = workloads.SIZES[size]
    try:
        if trace:
            tracer = Tracer(spark.sparkContext)
            with install(tracer):
                out = fn(spark, work, sz, seed, tracer)
            tracer.resolve()
        else:
            out = fn(spark, work, sz, seed, NullTracer())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ok = out.latencies_s and not out.errors
    if trace:
        metrics = layers.per_layer(tracer, out, session_s, jvm_peak_rss_mb())
        os.makedirs(OUT, exist_ok=True)
        tracer.write(
            os.path.join(OUT, f"trace-{workload}-{seed}.json"),
            {"workload": workload, "seed": seed, "metrics": metrics},
        )
        samples = {k: len(out.latencies_s) for k in metrics}
    else:
        lat_ms = [x * 1000 for x in out.latencies_s] or [0.0]
        metrics = {
            "setup_s": (session_s + stats.percentile(out.setup_s, 50), "s"),
            "latency_mean_ms": (sum(lat_ms) / len(lat_ms), "ms"),
            "wall_s": (out.window_s, "s"),
            "throughput_per_s": (out.items / out.busy_s if out.busy_s else 0.0, "1/s"),
        }
        n_ops = len(out.latencies_s)
        # the window and the throughput are one measurement each
        samples = {"setup_s": len(out.setup_s), "latency_mean_ms": n_ops, "wall_s": 1, "throughput_per_s": 1}
    return {
        "correct": bool(ok),
        "attempted": max(1, out.attempted),
        "failed": out.failed if out.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "samples": samples,
        "latencies_ms": [round(x * 1000) for x in out.latencies_s],
        "errors": out.errors,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["service", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "my_weather_spark", "__init__.py")):
        print(f"perfbench: no engine source (my_weather_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.update(host_env())
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    from perfbench import stats

    spark = start_session()
    session_s = time.perf_counter() - T_START
    try:
        res = run(args.workload, args.seed, bool(args.trace), "full", spark, session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    for e in res.pop("errors"):
        print(f"perfbench: MISMATCH {e}", file=sys.stderr)
    samples = res.pop("samples")
    print(f"{args.workload} op latencies ms: {res.pop('latencies_ms')}", file=sys.stderr)
    print(
        f"{args.workload} fail_ratio = {stats.fail_ratio(res['attempted'], res['failed']):.6g} "
        f"({res['failed']} of {res['attempted']} ops)",
        file=sys.stderr,
    )
    for name, m in res["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']} (n={samples[name]})", file=sys.stderr)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
