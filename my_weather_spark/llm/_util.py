"""Shared plan-shaping helpers for the LLM-pipeline operators.

Promoted out of ``dedup`` (r8 ADVICE): ``fan_out`` started as a
dedup-private helper and grew six sibling importers (classifier,
decontam, dsir, text, pq, similarity) — a public home removes the
coupling to dedup's internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism when the input
    has fewer partitions than cores.

    CPU-heavy narrow ops (md5 over shingle sets, tokenization scans)
    are bottlenecked by input partitioning: a corpus arriving as one
    small parquet file plans one task and serializes the whole
    computation on one core (byte-based AQE coalescing keeps it serial
    — the parallelismFirst=false sharp edge; measured 3.36 -> 1.3 s on
    decontam_flags/dsir_selected at sf0.1). At 100 TB inputs arrive
    with thousands of partitions and this is a no-op; on small/few-file
    inputs the cheap shuffle buys full-core parallelism for the
    expensive map that follows.

    Cost note: ``df.rdd.getNumPartitions()`` forces physical planning
    of ``df`` (a plan/RDD conversion, no execution). Every current call
    site runs once at query-construction time over a plain scan, where
    that is microseconds; don't drop this probe inside a per-batch or
    per-row loop over a complex upstream plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

