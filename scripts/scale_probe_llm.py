"""Scaling probe for the LLM-pipeline operators across the three
generated scale factors (50 / 500 / 5000 docs, 10x data per step).

Each step is a NATURAL corpus (not a self-union), so near-dup cluster
structure stays representative; output rows are reported alongside
seconds because pair-emitting ops have data-dependent output sizes.
A scale-broken op shows ~100x time per 10x data; a healthy one shows
~10x or the scheduling floor.

Usage: python scripts/scale_probe_llm.py
Prints one JSON line per (query, sf).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_weather_spark.session import get_spark

QUERIES = [
    "minhash_lsh_pairs",
    "lsh_jaccard_near_dup",
    "srp_cosine_near_dup",
    "ann_ivf_topk",
    "simhash_hamming_pairs",
    "semdedup_kept",
    "kmeans_clusters",
    "dsir_selected",
    "temperature_mix_counts",
    "decontam_flags",
    "pack_chunks_by_source",
    "pack_bins_by_source",
    "range_join_error_window",
    "mm_frame_sample",
    "approx_distinct_users",
    "line_boilerplate_clean",
    "stream_curated_front",
    "ccnet_ppl_buckets",
    "nb_quality_flags",
    "source_jsd_divergence",
    "doc_length_percentiles_scaled",
    "pq_ann_topk",
    "semantic_decontam_flags",
    "bpe_token_counts",
    "unimax_mix_alloc",
]
SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> None:
    import __spark_entry__ as entrymod

    # progress bars share stdout and clobber JSON lines mid-write
    spark = get_spark(
        app_name="scale_probe_llm",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entrymod.queries()
    for name in QUERIES:
        for sf_dir in SF_DIRS:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            print(
                json.dumps(
                    {
                        "query": name,
                        "sf": os.path.basename(sf_dir),
                        "rows": n,
                        "sec": round(dt, 2),
                    }
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
