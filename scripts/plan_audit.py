"""Plan audit: assert the scale-critical physical-plan properties over
EVERY declared query and write the evidence to PLAN_AUDIT.md.

Checks per query (on the optimized physical plan at sf0.01):

- NO_ROW_PYTHON_UDF: no BatchEvalPython (row-at-a-time Python UDF) —
  Arrow paths (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas)
  are the sanctioned Python escape hatches.
- NO_CARTESIAN: no CartesianProduct / BroadcastNestedLoopJoin unless
  the query is on the documented allowlist (heartbeat's ids x days
  chunk manifest is intentional and tiny; scalar-subquery one-row
  broadcasts are comparisons, not blowups).
- NO_PYTHON_RDD_SCAN: no scan of a Python RDD (a ``createDataFrame``
  over a Python list; read from the optimized logical plan's leaves)
  unless the query is on the documented allowlist.
  Every action over such a scan runs a Python-worker job just to ship
  its rows; small driver-side tables go through
  ``session.local_frame`` (a JVM LocalRelation) instead.
- Per-query expectations (EXPECT below): broadcast joins on dimension
  tables, pushed parquet filters where the query is selective.

Whole-stage codegen is NOT asserted here: under AQE the pre-execution
formatted plan carries no codegen ids (codegen is assigned when query
stages actually run) — the no-row-UDF check is the static guarantee
that nothing forces interpretation, and the notes column records the
positive evidence (broadcasts, pushed filters, pruned read schemas).

Usage: python scripts/plan_audit.py [--sf DIR] [--label TEXT] [-q name ...]
(-q consumes every remaining arg as query names, so it must come LAST;
--label IS the generated-on header, e.g. --label round-11 — no
wall-clock date, so identical audits are byte-identical and the stamp
can never disagree with the round tag; omitting it marks the header
UNLABELED / not-for-commit.)
Exit 1 on any violation. Writes PLAN_AUDIT.md at the repo root.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from my_weather_spark.session import get_spark, python_rdd_scans

# Queries allowed to contain a nested-loop/cartesian (documented why).
CARTESIAN_OK = {
    # ids x days chunk manifest — intentional, tiny (sources/heartbeat.py)
    "heartbeat_series",
    # single-row bounds frame joined to build the calendar grid
    "resample_hourly",
    "p5_empty_guard",
    # scalar-subquery threshold (one-row aggregate broadcast side):
    # BroadcastNestedLoopJoin against a single row is a comparison,
    # not a pair blowup
    "q11_important_stock",
    "q22_idle_customer_balance",
    # corpus-global BM25 stats (N, Σdl, per-term dfs) are ONE row,
    # broadcast-crossjoined onto the per-doc tf rows — same pattern
    "bm25_relevance_scores",
    # reference vocab size V is a one-row broadcast crossjoin
    "lm_perplexity_scores",
    # same lm model CTEs (vocab-size one-row crossjoin) under the
    # CCNet bucketing query
    "ccnet_ppl_buckets",
    # corpus word-distribution map is a ONE-ROW broadcast crossjoin
    # onto the strata-cardinality frame (llm/text.strata_divergence)
    "source_jsd_divergence",
    # DSIR log-ratio model is a ONE-ROW dense-array broadcast crossjoin
    # onto the narrow scoring pass (llm/dsir.py) — same pattern
    "dsir_selected",
    # NB classifier model + prior are ONE-ROW broadcast crossjoins
    # onto the narrow scoring pass (llm/classifier.py) — same pattern
    "nb_quality_flags",
    # temperature mixing's weight-sum fold is a ONE-ROW broadcast
    # crossjoin onto the strata-cardinality cuts frame (llm/sampling.
    # temperature_cuts) — same scalar-subquery pattern
    "temperature_mix_counts",
    # UniMax's total/budget frame is a ONE-ROW broadcast crossjoin
    # onto the strata-cardinality sizes frame (llm/sampling.
    # unimax_alloc) — same scalar-subquery pattern
    "unimax_mix_alloc",
    # vocab_topk's total-token count is a ONE-ROW broadcast crossjoin
    # onto the bounded top-k frame (llm/text.vocab_topk) — same pattern
    "vocab_top_words",
    # queries x corpus IS the brute-force baseline by definition (the
    # bounded honest-recall reference; the scale path is ann_ivf_topk)
    "knn_bruteforce",
}

# Queries allowed to scan a Python RDD: scalar-function probes over a
# fixed literal input (the list IS the test vector, and the frame is
# built once per query, not per dashboard request).
PYTHON_RDD_OK = {"f1_camel_to_snake", "f2_ascii_clean"}

# Per-query positive expectations: substrings that MUST appear in the
# formatted plan.
EXPECT: dict[str, list[str]] = {
    # dimension joins must broadcast, not shuffle
    "q5_region_revenue": ["BroadcastHashJoin"],
    "q10_returned_revenue": ["BroadcastHashJoin"],
    "q21_lone_returned_supplier": ["BroadcastHashJoin"],
    # benchmark/decontam probes broadcast the small side
    "decontam_flags": ["BroadcastHashJoin"],
    "lm_perplexity_scores": ["BroadcastHashJoin"],
    # percentile targets must broadcast onto the ranked corpus
    # (the windowed base variant has no join — scaled twin only)
    "doc_length_percentiles_scaled": ["BroadcastHashJoin"],
    # period filter must reach the parquet scan
    "p1_period_filter": ["PushedFilters: ["],
    # top-k selection must plan distributed per-partition top-k, not a
    # global sort. No PushedFilters expectation: the model consumes the
    # WHOLE corpus (target is a count_if predicate inside one scan, not
    # a selective filter), and the audited plan reads the checkpointed
    # keys stage, not parquet.
    "dsir_selected": ["TakeOrderedAndProject"],
}


def audit(name: str, plan: str, python_scans: int) -> list[str]:
    problems = []
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    if python_scans and name not in PYTHON_RDD_OK:
        problems.append("Python RDD scan outside allowlist")
    if name not in CARTESIAN_OK and (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    ):
        problems.append("cartesian/nested-loop join outside allowlist")
    for needle in EXPECT.get(name, []):
        if needle not in plan:
            problems.append(f"expected plan fragment missing: {needle!r}")
    return problems


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    names: list[str] = []
    label = ""
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--label":
            label = argv[i + 1]
            i += 2
        elif argv[i] == "-q":
            names = argv[i + 1 :]
            break
        else:
            i += 1
    spark = get_spark(
        app_name="plan_audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entrymod.queries()
    if not names:
        names = list(qs)
    # The stamp is the --label alone (e.g. "round-11"): a wall-clock
    # date made the output non-reproducible — regenerating identical
    # plans on a different day produced a diff, and the date could
    # silently disagree with the round tag (r10 ADVICE). --label is
    # now required for a full (committable) audit; ad-hoc -q runs may
    # omit it and get an explicitly unlabeled header.
    stamp = label if label else "UNLABELED (ad-hoc run — not for commit)"
    lines = [
        "# PLAN AUDIT — physical-plan properties per query",
        "",
        f"Generated: {stamp} — regenerate every round (the anti-pattern",
        "evidence must never be stale, even when no plan changed).",
        "",
        f"Scale dir: {sf_dir}. Checks: no row-at-a-time Python UDFs,",
        "no undeclared cartesian joins, no undeclared Python RDD scans,",
        "plus per-query broadcast / pushdown expectations. Notes record",
        "positive evidence (broadcast joins, pushed parquet filters, Arrow",
        "maps).",
        "(Generated by scripts/plan_audit.py — regenerate after plan",
        "changes.)",
        "",
        "| query | verdict | notes |",
        "|---|---|---|",
    ]
    bad = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR | {type(exc).__name__}: {exc} |")
            bad += 1
            print(f"ERROR {name}: {exc}", flush=True)
            continue
        problems = audit(name, plan, python_rdd_scans(df))
        if problems:
            bad += 1
            lines.append(f"| {name} | **FAIL** | {'; '.join(problems)} |")
            print(f"FAIL {name}: {'; '.join(problems)}", flush=True)
        else:
            notes = []
            if "BroadcastHashJoin" in plan:
                notes.append("bcast-join")
            if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
                notes.append("pushed-filters")
            if "mapinpandas" in plan.lower():
                notes.append("arrow-map")
            lines.append(f"| {name} | ok | {', '.join(notes)} |")
            print(f"ok   {name}", flush=True)
    lines += ["", f"**{len(names) - bad} ok / {bad} flagged / {len(names)} total**"]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"\n{len(names) - bad} ok / {bad} flagged -> {out}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
