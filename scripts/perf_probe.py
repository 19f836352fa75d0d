"""Time selected queries Spark-vs-DuckDB in ONE sitting — the
per-query ratio tool for performance work (bench.py times everything;
this times a shortlist with its oracles so the 2x-gate ratio is
measured apples-to-apples in the same container window).

Usage: python scripts/perf_probe.py q1 q2 ... [--sf DIR] [--reps N]
       python scripts/perf_probe.py --all        (every oracle-matched query)
       python scripts/perf_probe.py --all --json RATIO_r08.json

Prints per-query: spark best-of-N, oracle best-of-N, ratio.

--json writes the whole sweep as ONE driver-readable artifact: totals,
headline ratio, the ex-sanctioned ratio (same math quoted in NOTES /
BASELINE.md — the sanctioned outlier table's members excluded), the
per-query numbers, and pinned-BLAS cpu_calib stamps taken in
subprocesses immediately before and after the sweep (a subprocess
because cpu_calib must pin thread pools BEFORE numpy loads). Since
r11 a --json sweep also carries an in-run calib_track (mini stamp
every 50 timed executions) and per-query exec spans + a
window_degraded flag, so a mid-sweep transient — like RATIO_r11
sweep 1's lsh block, inflated 4-10x on BOTH engines between healthy
edge stamps — is localizable from the artifact alone.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from _duck import oracle_connect
from my_weather_spark.session import get_spark

# BASELINE.md "Sanctioned per-query ratio outliers": queries whose
# toy-scale Spark/DuckDB ratio is structurally unrepresentative, each
# with a documented design reason that disappears or reverses at the
# 100 TB design point.
#
# The _scaled distributed twins are ENUMERATED, not suffix-matched
# (r8 ADVICE): a future *_scaled query must earn its exclusion in
# BASELINE.md and be added here deliberately — is_sanctioned() asserts
# the registry's _scaled set equals this pinned list, so an unlisted
# newcomer fails the probe loudly instead of being silently excluded.
# (Their windowed bases share the same oracle at ~1x; the twins pay
# ranged-sort insurance by design.)
SANCTIONED_SCALED = {
    "doc_length_percentiles_scaled",
    "value_deciles_scaled",
    "w5_sliding_count_scaled",
}

SANCTIONED_EXACT = {
    "mm_jpeg_image_stats",      # Spark entropy-decodes; oracle reads metadata
    "simhash_hamming_pairs",    # checkpointed 60-bit aggregate + band join: 2.4-2.7x at sf0.1 (r19)
    "q21_lone_returned_supplier",  # exchange-count floor, fusion reverted
    # r8 floor-probe decompositions (BASELINE.md round-8 table): the
    # honest-shuffle quartet's data-proportional work is at-or-under
    # ~2x its oracle; the >2x headline is fixed stage floor.
    "split_leakage_stats",      # floor share 0.96, work/oracle 0.15x
    "dup_span_stats",           # floor 1.24 s, work/oracle 1.7x (perturbed 4x)
    "decontam_flags",           # floor share 0.94 post-fan-out-fix
    "dsir_selected",            # floor share 0.96 post-fan-out-fix
}


def _check_scaled_pin() -> None:
    registry_scaled = {n for n in entrymod.queries() if n.endswith("_scaled")}
    if registry_scaled != SANCTIONED_SCALED:
        raise RuntimeError(
            "registry *_scaled set drifted from SANCTIONED_SCALED — a new "
            "_scaled query must document its exclusion in BASELINE.md and "
            f"be added here: {sorted(registry_scaled ^ SANCTIONED_SCALED)}"
        )


def is_sanctioned(name: str) -> bool:
    return name in SANCTIONED_SCALED or name in SANCTIONED_EXACT


# bench.py owns the run-cpu_calib-in-a-subprocess-and-parse logic AND
# the degraded-window classification; import both so a cpu_calib
# output change or threshold recalibration is fixed in one place.
from bench import (  # noqa: E402
    calib_record as calib_stamp,
    degraded_threshold,
    track_span_degraded,
)


def main() -> None:
    _check_scaled_pin()
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 3
    names: list[str] = []
    json_path: str | None = None
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif a == "--reps":
            reps = int(argv[i + 1])
            i += 2
        elif a == "--json":
            json_path = argv[i + 1]
            i += 2
        elif a == "--all":
            names = ["--all"]
            i += 1
        else:
            names.append(a)
            i += 1
    calib_before = calib_stamp() if json_path else None

    # In-sweep window-attribution track (mirrors bench.py's
    # calib_track; added r11 after RATIO_r11 sweep 1 carried a
    # transient that inflated BOTH engines' lsh block 4-10x while the
    # edge stamps read healthy — a mid-sweep event the artifact could
    # not localize). A mini stamp (st x1, mt32 best-of-3) every 50
    # timed executions; each query records its exec span so a
    # transient is attributable to the queries that ran inside it.
    # Only maintained for --json runs (ad-hoc stdout probes stay
    # lean).
    n_exec = [0]
    track: list[dict] = []
    if json_path:
        track.append({
            "exec": 0,
            "stamp": (
                [calib_before["st_ms"], calib_before["mt32_ms"]]
                if calib_before and calib_before.get("st_ms") is not None
                and calib_before.get("mt32_ms") is not None else None
            ),
            "full": True,
        })

    def tick() -> None:
        """One timed execution happened (spark or oracle side); every
        50th, stamp the window. Runs OUTSIDE both engines' timed
        windows (between reps)."""
        n_exec[0] += 1
        if not json_path or n_exec[0] % 50:
            return
        rec = calib_stamp(mini=True)
        track.append({
            "exec": n_exec[0],
            "stamp": (
                None
                if not rec or rec.get("st_ms") is None
                or rec.get("mt32_ms") is None
                else [rec["st_ms"], rec["mt32_ms"]]
            ),
            "full": False,
        })

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if names == ["--all"]:
        names = [n for n in qs if n in oracles and n != "near_dup_components"]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # JVM-headroom oracle connection + standard views — the r10
    # convoy root cause and the fairness rationale live in _duck.py.
    con = oracle_connect(sf_dir)

    spark = get_spark(
        app_name="perf_probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # Python gc.collect() only queues py4j finalizers; the JVM side
    # frees accumulated shuffle files / broadcast blocks when Spark's
    # ContextCleaner sees a JVM GC — which, at the default
    # spark.cleaner.periodicGC.interval of 30 min, never happens
    # inside a sweep. A 125-query session ages measurably without
    # this (whole-sweep Spark totals inflated ~15% late-session).
    # But a FULL GC after EVERY execution slows the NEXT one ~7%
    # (same-session A/B), so fire every 5th timed Spark execution —
    # the cadence the A/B measured as matching never-GC speed while
    # still bounding the cleaner backlog (~1/5 of executions pay the
    # ~7% post-GC penalty -> ~1.4%, under the noise floor). The tick
    # unit is ONE TIMED SPARK EXECUTION, aligned with bench.py (with
    # reps=3 that is one GC per ~1.7 queries — the backlog grows per
    # execution, not per query name). Always OUTSIDE timed windows.
    _gc_tick = [0]

    def jvm_gc(force: bool = False) -> None:
        _gc_tick[0] += 1
        if not force and _gc_tick[0] % 5:
            return
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # full warmup pass (JIT/codegen; see bench.py rationale)
    for n in names:
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        gc.collect()
        if n in oracles:
            con.execute(oracles[n]).fetchall()
    jvm_gc(force=True)

    rows = []
    for n in names:
        st = []
        ot = []
        span_start = n_exec[0] + 1
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            st.append(time.perf_counter() - t0)
            # Drop the py4j refs of this rep's plan NOW: localCheckpoint
            # blocks stay pinned until the Python DataFrame is GC'd, and
            # deferred finalizers let storage/GC pressure build across a
            # 100-query session (measured 3-4x inflation on late
            # queries). Steady-state hygiene, not a timing exclusion —
            # the collect runs outside the timed window of the NEXT rep.
            gc.collect()
            jvm_gc()
            tick()
            if n in oracles:
                t0 = time.perf_counter()
                con.execute(oracles[n]).fetchall()
                ot.append(time.perf_counter() - t0)
                tick()
        s, o = min(st), (min(ot) if ot else float("nan"))
        rows.append((n, s, o, (span_start, n_exec[0])))
        print("%-32s spark %6.2f  oracle %6.2f  ratio %5.2fx"
              % (n, s, o, s / o if o == o and o > 0 else float("nan")),
              flush=True)

    ts = sum(r[1] for r in rows)
    to = sum(r[2] for r in rows if r[2] == r[2])
    print("\nTOTAL spark %.2f s   oracle %.2f s   ratio %.2fx  (%d queries, best-of-%d, %s)"
          % (ts, to, ts / to if to else float("nan"), len(rows), reps, sf_dir))

    ex = [r for r in rows if not is_sanctioned(r[0]) and r[2] == r[2]]
    xs = sum(r[1] for r in ex)
    xo = sum(r[2] for r in ex)
    print("EX-SANCTIONED spark %.2f s   oracle %.2f s   ratio %.2fx  (%d queries)"
          % (xs, xo, xs / xo if xo else float("nan"), len(ex)))

    # Stable core (VERDICT r9 item 3): the lsh_jaccard_near_dup DuckDB
    # oracle is bimodal — 7.4-67.5 s across the three r9 sweeps for
    # identical SQL — and single-handedly swings the all-queries
    # headline between 0.82x and 2.13x while Spark holds 3.8-5.9 s.
    # Excluding that one query from BOTH sides gives the denominator-
    # stable comparator (1.64-1.65x in every r9 sweep, previously
    # computed by hand in NOTES); first-class here so sweep-to-sweep
    # movement is attributable mechanically.
    _BIMODAL_ORACLE = {"lsh_jaccard_near_dup"}
    core = [r for r in ex if r[0] not in _BIMODAL_ORACLE]
    cs = sum(r[1] for r in core)
    co = sum(r[2] for r in core)
    print("STABLE-CORE   spark %.2f s   oracle %.2f s   ratio %.2fx  (%d queries, ex-sanctioned minus bimodal-oracle set)"
          % (cs, co, cs / co if co else float("nan"), len(core)))

    if json_path:
        calib_after = calib_stamp()
        track.append({
            "exec": n_exec[0],
            "stamp": (
                [calib_after["st_ms"], calib_after["mt32_ms"]]
                if calib_after and calib_after.get("st_ms") is not None
                and calib_after.get("mt32_ms") is not None else None
            ),
            "full": True,
        })

        threshold = degraded_threshold(track)

        def span_degraded(span: tuple[int, int]) -> bool:
            """True if any stamp bounding or inside the query's exec
            span reads degraded — the query's timings MAY carry window
            inflation (localized to the stamp spacing, ~50 execs).
            Shared implementation: bench.track_span_degraded (an
            earlier local copy dropped the above-bound for every span
            before the first mini stamp)."""
            return track_span_degraded(track, span[0], span[1], threshold)

        artifact = {
            "metric": "spark_duckdb_ratio",
            "sf": sf_dir,
            "reps": reps,
            "n_queries": len(rows),
            "spark_total_sec": round(ts, 2),
            "oracle_total_sec": round(to, 2),
            "ratio": round(ts / to, 3) if to else None,
            "ex_sanctioned": {
                "n_queries": len(ex),
                "spark_total_sec": round(xs, 2),
                "oracle_total_sec": round(xo, 2),
                "ratio": round(xs / xo, 3) if xo else None,
                "excluded": sorted(
                    r[0] for r in rows if is_sanctioned(r[0])
                ),
            },
            # ex-sanctioned minus the bimodal-oracle set (both sides):
            # the denominator-stable comparator — see stdout note.
            # also_excluded lists only queries ACTUALLY probed and
            # removed (a shortlist run that never measured lsh must
            # not claim to have excluded it).
            "stable_core": {
                "n_queries": len(core),
                "spark_total_sec": round(cs, 2),
                "oracle_total_sec": round(co, 2),
                "ratio": round(cs / co, 3) if co else None,
                "also_excluded": sorted(
                    _BIMODAL_ORACLE & {r[0] for r in rows}
                ),
            },
            "cpu_calib_before": calib_before,
            "cpu_calib_after": calib_after,
            # in-sweep window stamps (see tick()); exec positions count
            # timed executions on either engine. window_degraded per
            # query = some stamp bounding/inside its exec span read
            # mt32 >= the threshold — its numbers MAY carry window
            # inflation (re-probe the flagged names before reading
            # them as plan evidence).
            "calib_track": track,
            "degraded_mt32_threshold_ms": threshold,
            "queries": {
                r[0]: {
                    "spark_sec": round(r[1], 3),
                    "oracle_sec": round(r[2], 3) if r[2] == r[2] else None,
                    "sanctioned": is_sanctioned(r[0]),
                    "exec_span": list(r[3]),
                    "window_degraded": span_degraded(r[3]),
                }
                for r in rows
            },
        }
        with open(json_path, "w") as f:
            json.dump(artifact, f, indent=1)
            f.write("\n")
        print(f"wrote {json_path}")


if __name__ == "__main__":
    main()
