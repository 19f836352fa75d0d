"""Hot-key probe: each ranking scanner against the window it twins, on
one group that holds every row.

Shape (one run per ``--rows n``): ``g`` a constant string, ``t = id * 7919 % n`` (a
permutation of 0..n-1, so ``t`` totally orders the group), ``v = id %
97``, and ``f = v`` on every 5th row, else NULL. Every arm writes its
whole output to a noop sink; each pair runs its arms ``--reps`` times,
alternating the arm order per rep, and reports the best and median.
Before timing, every arm of a pair is checked row-for-row
(``exceptAll`` both ways) against the pair's first window arm on a
``--check-rows`` frame of the same shape.

Scanners are loaded from ``my_weather_spark/ops/ranking.py`` of two
trees: this one, and ``--before DIR``, a checkout that still holds the
shift, fill and prefix-sum scanners (and the sliding count built on the
prefix-sum scanner). Arms whose tree lacks the scanner, or whose tree
is not given, are reported as skipped.

A scanner's verdict is ``keep`` when its best run beats the best of its
pair's window arms by more than ``--margin`` (default 10 %), else
``delete``.

Usage:
    git archive <rev> | tar -x -C <dir>
    python scripts/skew_probe.py --rows 5000000 10000000 --before <dir> --json SKEW_r24.json
    python scripts/skew_probe.py --pairs lag sliding_range_count --rows 200000
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from my_weather_spark.session import get_spark

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRIME = 7919
PRECEDING = 600
PS = [10, 50, 90]


def _load_ranking(tree: str, label: str):
    path = os.path.join(tree, "my_weather_spark", "ops", "ranking.py")
    spec = importlib.util.spec_from_file_location(f"_ranking_{label}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def hot_key_frame(spark, n: int):
    if math.gcd(PRIME, n) != 1:
        raise ValueError(f"--rows must be coprime with {PRIME} so t is a permutation")
    return spark.range(n).select(
        "id",
        F.lit("hot").alias("g"),
        (F.col("id") * PRIME % n).alias("t"),
        (F.col("id") % 97).alias("v"),
        F.when(F.col("id") % 5 == 0, F.col("id") % 97).alias("f"),
    )


def _ord(desc: bool = False):
    return W.partitionBy("g").orderBy(F.desc("t") if desc else F.col("t"))


def _run(desc: bool = False):
    return _ord(desc).rowsBetween(W.unboundedPreceding, 0)


def _window_percentiles(df):
    w = W.partitionBy("g").orderBy("v", "id")
    ranked = df.select(
        "g",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("g")).alias("n"),
    ).select("*", F.explode(F.array(*[F.lit(p) for p in PS])).alias("p"))
    target = F.floor((F.col("p").cast("long") * F.col("n") + 99) / 100)
    return ranked.where(F.col("rn") == target).select("g", "p", "v")


def _window_row_number_groupby(df):
    counts = df.groupBy("g").agg(F.count(F.lit(1)).alias("n_group"))
    return df.select(
        "id", "g", F.row_number().over(_ord()).cast("long").alias("grn")
    ).join(counts, "g").select("id", "grn", "n_group")


# pair -> [(arm, tree or None for a window arm, build(df, ranking) -> DataFrame)]
PAIRS = {
    "lag": [
        ("window", None, lambda df, r: df.select("id", F.lag("v").over(_ord()).alias("out"))),
        ("scanner", "before", lambda df, r: r.grouped_lag(df, ["g"], ["t"], ["v"])
         .select("id", F.col("v_prev").alias("out"))),
    ],
    "lead": [
        ("window", None, lambda df, r: df.select("id", F.lead("v").over(_ord()).alias("out"))),
        ("scanner", "before", lambda df, r: r.grouped_lead(df, ["g"], ["t"], ["v"])
         .select("id", F.col("v_next").alias("out"))),
    ],
    "prefix_sum": [
        ("window", None, lambda df, r: df.select("id", F.sum("v").over(_run()).alias("out"))),
        ("scanner", "before", lambda df, r: r.grouped_prefix_sum(
            df, ["g"], ["t"], "v", out_col="out").select("id", "out")),
    ],
    "last_fill": [
        ("window", None, lambda df, r: df.select(
            "id", F.last("f", ignorenulls=True).over(_run()).alias("out"))),
        ("scanner", "before", lambda df, r: r.grouped_last_fill(
            df, ["g"], ["t"], "f", out_col="out").select("id", "out")),
    ],
    "bidi_fill": [
        ("window", None, lambda df, r: df.select(
            "id",
            F.last("f", ignorenulls=True).over(_run()).alias("fwd"),
            F.last("f", ignorenulls=True).over(_run(desc=True)).alias("bwd"),
        )),
        ("scanner", "before", lambda df, r: r.grouped_bidi_fill(
            df, ["g"], ["t"], "f", "fwd", "bwd").select("id", "fwd", "bwd")),
    ],
    "grouped_row_number": [
        ("window", None, lambda df, r: df.select(
            "id",
            F.row_number().over(_ord()).cast("long").alias("grn"),
            F.count(F.lit(1)).over(W.partitionBy("g")).alias("n_group"),
        )),
        ("window_groupby_count", None, lambda df, r: _window_row_number_groupby(df)),
        ("scanner", "before", lambda df, r: r.grouped_row_number(df, "g", ["t"])
         .select("id", "grn", "n_group")),
    ],
    "global_row_number": [
        ("window", None, lambda df, r: df.select(
            "id", F.row_number().over(W.orderBy("t")).cast("long").alias("rn"))),
        ("scanner", "after", lambda df, r: r.global_row_number(df, ["t"])[0]
         .select("id", "rn")),
    ],
    "grouped_exact_percentiles": [
        ("window", None, lambda df, r: _window_percentiles(df)),
        ("scanner", "after", lambda df, r: r.grouped_exact_percentiles(
            df, "v", PS, "g", "id")),
    ],
    "sliding_range_count": [
        ("window", None, lambda df, r: df.select(
            "id",
            F.count(F.lit(1))
            .over(_ord().rangeBetween(-PRECEDING, 0))
            .alias("n_in_window"),
        )),
        ("scanner_before", "before", lambda df, r: r.sliding_range_count(
            df.select("id", "g", "t"), ["g"], ["id"], "t", PRECEDING
        ).select("id", "n_in_window")),
        ("scanner", "after", lambda df, r: r.sliding_range_count(
            df.select("id", "g", "t"), ["g"], ["id"], "t", PRECEDING
        ).select("id", "n_in_window")),
    ],
}


def _runnable(arms, trees):
    out, skipped = [], {}
    for name, tree, build in arms:
        mod = None
        if tree is not None:
            mod = trees.get(tree)
            if mod is None:
                skipped[name] = f"no {tree} tree given"
                continue
        out.append((name, mod, build))
    return out, skipped


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _time(build, df, mod) -> float:
    t0 = time.perf_counter()
    build(df, mod).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _probe_pair(arms, df, reps: int, margin: float) -> dict:
    runs = {name: [] for name, _, _ in arms}
    for rep in range(reps):
        for name, mod, build in arms if rep % 2 == 0 else arms[::-1]:
            runs[name].append(round(_time(build, df, mod), 3))
    result = {
        "arms": {
            name: {
                "best_s": min(r),
                "median_s": round(statistics.median(r), 3),
                "runs_s": r,
            }
            for name, r in runs.items()
        }
    }
    best = {k: v["best_s"] for k, v in result["arms"].items()}
    window = min(v for k, v in best.items() if k.startswith("window"))
    if "scanner" in best:
        result["scanner_over_window"] = round(best["scanner"] / window, 3)
        result["verdict"] = "keep" if best["scanner"] < window * (1 - margin) else "delete"
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, nargs="+", default=[5_000_000])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--check-rows", type=int, default=20_000)
    ap.add_argument("--margin", type=float, default=0.10)
    ap.add_argument("--before", help="tree holding the deleted scanners")
    ap.add_argument("--pairs", nargs="*", default=list(PAIRS))
    ap.add_argument("--json", help="write the readings to this file")
    args = ap.parse_args()

    trees = {"after": _load_ranking(HERE, "after")}
    if args.before:
        trees["before"] = _load_ranking(args.before, "before")
    spark = get_spark(app_name="skew_probe")
    check = hot_key_frame(spark, args.check_rows)

    pairs, skipped, rows_equal = {}, {}, {}
    for pair in args.pairs:
        pairs[pair], skipped[pair] = _runnable(PAIRS[pair], trees)
        _, base_mod, base_build = pairs[pair][0]
        base = base_build(check, base_mod)
        rows_equal[pair] = {
            name: _same_rows(build(check, mod), base) for name, mod, build in pairs[pair]
        }

    runs = []
    for n in args.rows:
        df = hot_key_frame(spark, n)
        df.write.format("noop").mode("overwrite").save()  # warm-up
        results = {}
        for pair, arms in pairs.items():
            results[pair] = _probe_pair(arms, df, args.reps, args.margin)
            best = {k: v["best_s"] for k, v in results[pair]["arms"].items()}
            print(n, pair, json.dumps(best), results[pair].get("verdict"), flush=True)
        runs.append({"rows": n, "pairs": results})

    out = {
        "probe": "scripts/skew_probe.py",
        "cores": spark.sparkContext.defaultParallelism,
        "host_cpus": os.cpu_count(),
        "reps": args.reps,
        "margin": args.margin,
        "sink": "noop",
        "shape": (
            f"one group: g constant, t = id*{PRIME} % rows, v = id % 97, "
            "f = v on every 5th row else NULL"
        ),
        "sliding_preceding": PRECEDING,
        "percentiles": PS,
        "check_rows": args.check_rows,
        "rows_equal_at_check": rows_equal,
        "skipped": {k: v for k, v in skipped.items() if v},
        "runs": runs,
    }
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=2)
            fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
