"""Shared plan-shaping helpers for the LLM-pipeline operators.

Promoted out of ``dedup`` (r8 ADVICE): ``fan_out`` started as a
dedup-private helper and grew six sibling importers (classifier,
decontam, dsir, text, pq, similarity) — a public home removes the
coupling to dedup's internals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


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


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    prepare,
    score,
    keep,
    max_bucket: int,
    schema: str,
) -> DataFrame:
    """Every pair of rows that share a bucket (equal ``keys``) and whose
    score passes ``keep``: the fused candidate-then-verify scan behind
    the SimHash and SRP-LSH near-dup operators.

    Rows shuffle ONCE on ``keys`` and arrive sorted, so each bucket is a
    contiguous run of an Arrow batch; the trailing run of a batch may
    continue in the next one and is carried over. Candidate pairs are
    born and filtered inside the scan; only survivors leave it.

    The family supplies its own parts, called in the Python worker:
    ``prepare(pdf)`` maps a batch to a row-aligned payload array,
    ``score(Xa, Xb)`` returns the ``len(Xa) x len(Xb)`` score matrix and
    ``keep(S)`` the boolean mask of pairs to emit. They are pickled by
    value, so they must be closures that name nothing at module level
    in this package (workers cannot import it).

    A bucket of more than ``max_bucket`` members scores hub-and-spoke
    against its min-id member: linear work, and the per-task skew bound
    (a bucket is scanned by exactly one task). Scores on the emitted
    pairs stay exact and connectivity through the bucket is preserved
    for downstream clustering; what is lost is the direct score between
    two non-hub members. Smaller buckets score their upper triangle in
    256-row blocks, so peak memory stays ~256 x bucket scores.

    Output columns are ``schema``'s (id_a, id_b, score) with id_a <
    id_b. A pair found in several bands carries the same score each
    time, and the final distinct() keeps one. Emitting it from its
    smallest band only would lose it whenever that band's bucket was
    hub-degraded and neither doc was the hub, unless each row carried
    its doc's per-band hubs, as ``_hubs`` does in
    ``dedup.band_key_pairs``; that would let the distinct() go.
    """
    a_col, b_col, s_col = StructType.fromDDL(schema).names

    def _scan(batches):
        import numpy as np
        import pandas as pd

        def _pairs(ids, X, out):
            n = len(ids)
            if n > max_bucket:
                hub = int(np.argmin(ids))
                S = score(X[hub : hub + 1], X)[0]
                m = keep(S)
                m[hub] = False
                out.append((np.full(int(m.sum()), ids[hub]), ids[m], S[m]))
                return
            for s in range(0, n - 1, 256):
                S = score(X[s : s + 256], X[s:])
                bi, bj = np.nonzero(keep(S))
                up = bi < bj
                bi, bj = bi[up], bj[up]
                ia, ib = ids[s + bi], ids[s + bj]
                swap = ia > ib
                out.append(
                    (np.where(swap, ib, ia), np.where(swap, ia, ib), S[bi, bj])
                )

        def _frame(out):
            cols = [np.concatenate(c) for c in zip(*out)]
            return pd.DataFrame(dict(zip((a_col, b_col, s_col), cols)))

        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            part = [pdf[id_col].to_numpy(), prepare(pdf)]
            part += [pdf[k].to_numpy() for k in keys]
            if carry is not None:
                part = [np.concatenate(c) for c in zip(carry, part)]
            cut = np.zeros(len(part[0]) - 1, dtype=bool)
            for k in part[2:]:
                cut |= k[1:] != k[:-1]
            starts = np.concatenate(([0], np.flatnonzero(cut) + 1))
            out = []
            for s, e in zip(starts[:-1], starts[1:]):
                if e - s >= 2:
                    _pairs(part[0][s:e], part[1][s:e], out)
            carry = [c[starts[-1] :] for c in part]
            if out:
                yield _frame(out)
        if carry is not None and len(carry[0]) >= 2:
            out = []
            _pairs(carry[0], carry[1], out)
            if out:
                yield _frame(out)

    return (
        rows.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(_scan, schema)
        .distinct()
    )
