"""Similarity search over embedding columns (array<float>).

Brute-force top-k, the tiled self-join, IVF buckets, SRP-LSH buckets
and SemDeDup clusters score one cosine over different candidate sets.
Every numpy path stacks its vectors with :func:`_unit` and scores them
with :func:`_cos`; thresholded paths round to 6 places first, so both
engines decide identically. The one JVM-side cosine is :func:`cosine`
(brute force): it ranks on the oracle's unrounded cosines only as a
sequential-double fold over the array order.

Zero-vector rule. A zero vector has no direction, so every cosine it
takes part in is undefined, and an undefined cosine:

- never meets a threshold;
- ranks after every defined cosine;
- wins an argmax only when every candidate is undefined, and then the
  first candidate in the path's documented order wins;
- is emitted as NULL.

``_cos`` writes -inf for it, which gives the first three in numpy, and
a path that emits the cosine turns -inf into NULL. The JVM ``cosine``
is NULL through ``try_divide``, and ``F.desc`` ranks NULLs last.

Scale notes (100 TB): queries are broadcast (a query batch is small by
definition); the corpus stays partitioned — the cross join is a
broadcast nested loop whose cost is (corpus x queries) dot products,
embarrassingly parallel. The IVF variant cuts the scanned fraction to
nprobe/C. For billion-vector corpora you'd persist the bucketed corpus
sorted by centroid_id so bucket probes are partition-pruned scans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from my_weather_spark.llm._util import fan_out as _fan_out
from my_weather_spark.session import local_frame

# Rows per blocked BLAS product in the tiled and SemDeDup kernels:
# peak score memory is _BLOCK x (rows on the other side).
_BLOCK = 2048


def _unit(vectors) -> np.ndarray:
    """Stack a vector column as float64 rows of unit length; a zero
    vector stays a zero row."""
    X = np.stack(vectors).astype(np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, norms, out=X, where=norms > 0)


def _cos(A: np.ndarray, B: np.ndarray, rowwise: bool = False) -> np.ndarray:
    """Cosine of unit rows: the A x B matrix, or A[i] . B[i] when
    ``rowwise``; -inf wherever either row is zero."""
    a, b = A.any(axis=1), B.any(axis=1)
    if rowwise:
        S = np.einsum("ij,ij->i", A, B)
        S[~(a & b)] = -np.inf
        return S
    S = A @ B.T
    S[~a] = -np.inf
    S[:, ~b] = -np.inf
    return S


def dot(a: Column, b: Column) -> Column:
    """Sequential-double dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector is zero (the zero-vector rule)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


# ----------------------------------------------------------------------
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Output: (query_id, neighbor_id, cos, rank). Self-matches excluded.
    Ties, and undefined (NULL) cosines, are ranked by neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        _fan_out(c).join(F.broadcast(q))  # broadcast NL: corpus stays distributed
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def cosine_self_pairs(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact corpus-x-corpus cosine pairs >= threshold as
    (query_id, neighbor_id, cos), query_id < neighbor_id — fully
    distributed, with no driver-side collect.

    Block-matrix self-join: rows hash into ``n_blocks`` blocks; each
    row explodes into its tile memberships over the (ga <= gb)
    block-pair grid — as the LEFT side of tiles its block leads, the
    RIGHT side of tiles it trails, and BOTH for its diagonal tile —
    then one groupBy(tile) + applyInPandas scores each tile with a
    blocked BLAS product, emitting only over-threshold pairs. Every
    unordered pair lands in exactly one tile (diagonal tiles take the
    strict upper triangle), so no distinct pass is needed.

    Scale shape: data replication is exactly n_blocks (each row sits
    in n_blocks tiles), shuffle keys are (ga, gb) — uniform by
    construction — and peak tile memory is 2 x |block| vectors; pick
    n_blocks so a block fits an executor. Work is the inherent N^2/2
    dot products, embarrassingly parallel over
    n_blocks*(n_blocks+1)/2 independent tiles. Compare brute_force_topk
    (broadcast queries) and srp_lsh_pairs (sub-quadratic LSH) for the
    other points on the exact/approximate frontier.
    """
    import pandas as pd

    # role 0: left side of an off-diagonal tile; 1: right side;
    # 2: diagonal tile (the row serves both sides).
    membership = F.explode(
        F.expr(
            f"""
            transform(sequence(0, {n_blocks - 1}), j ->
              case when j > _g then named_struct('ga', _g, 'gb', j, 'role', 0)
                   when j < _g then named_struct('ga', j, 'gb', _g, 'role', 1)
                   else named_struct('ga', _g, 'gb', _g, 'role', 2) end)
            """
        )
    ).alias("_t")
    tiled = (
        corpus.select(id_col, vec_col)
        .withColumn("_g", F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("int"))
        .select(id_col, vec_col, membership)
        .select(
            id_col,
            vec_col,
            F.col("_t.ga").alias("ga"),
            F.col("_t.gb").alias("gb"),
            F.col("_t.role").alias("role"),
        )
    )
    id_type = corpus.schema[id_col].dataType.simpleString()

    def _tile(key, pdf):
        ga, gb = key
        empty = pd.DataFrame({"query_id": [], "neighbor_id": [], "cos": []})
        diag = ga == gb
        if diag:
            lpdf = rpdf = pdf
        else:
            lpdf = pdf[pdf["role"] == 0]
            rpdf = pdf[pdf["role"] == 1]
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        lids = lpdf[id_col].to_numpy()
        rids = rpdf[id_col].to_numpy()
        A = _unit(lpdf[vec_col])
        B = A if diag else _unit(rpdf[vec_col])
        out = []
        for s in range(0, len(A), _BLOCK):
            S = np.round(_cos(A[s : s + _BLOCK], B), 6)
            bi, bj = np.nonzero(S >= threshold)
            ia, ib = lids[bi + s], rids[bj]
            # diagonal: strict upper triangle by id (each pair once);
            # off-diagonal blocks are disjoint, all cross pairs count
            keep = ia < ib if diag else ia != ib
            if not keep.any():
                continue
            ia, ib = ia[keep], ib[keep]
            swap = ia > ib
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.where(swap, ib, ia),
                        "neighbor_id": np.where(swap, ia, ib),
                        "cos": S[bi[keep], bj[keep]],
                    }
                )
            )
        return pd.concat(out) if out else empty

    return tiled.groupBy("ga", "gb").applyInPandas(
        _tile, schema=f"query_id {id_type}, neighbor_id {id_type}, cos double"
    )


# ----------------------------------------------------------------------
# IVF-style bucketed ANN (the scale path).
#
# Index lifecycle (mirrors a real IVF deployment):
#   centroids = ivf_centroids(corpus, C)        # train: fixed small C
#   index     = ivf_build(corpus, centroids, p) # one corpus pass, persisted
#                                               # partitioned by centroid_id
#   hits      = ivf_topk(index, queries, centroids, k, nprobe)
#                                               # partition-pruned probe scan
# C is FIXED (independent of corpus size) so assignment stays O(N*C),
# and probes read only nprobe/C of the data via parquet partition
# pruning — no per-query reassignment of the corpus.
def semantic_decontam_flags(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bench_rows: int = 65536,
) -> DataFrame:
    """(id, bench_id, max_cos, contaminated) — embedding-space
    decontamination: flag every corpus document whose embedding is
    within ``threshold`` cosine of ANY benchmark embedding, with the
    nearest benchmark id and similarity attached. The semantic
    complement of the n-gram decontaminate (llm/decontam.py): n-gram
    overlap catches verbatim leakage, embedding proximity catches
    paraphrased leakage — dataset papers run both.

    Same asymmetry as every decontam op: the benchmark side is SMALL
    by construction, collected (bounded by ``max_bench_rows``, loudly)
    and broadcast as one normalized matrix; each corpus Arrow batch
    does ONE BLAS product + argmax — a single shuffle-free narrow
    pass. Determinism/portability: sims round to 6 BEFORE the argmax,
    bench rows are id-sorted, and np.argmax takes the first maximum —
    so ties resolve to the lowest bench id, exactly the SQL replay's
    (cos DESC, bench_id ASC) order. The verdict compares the rounded
    value, so both engines decide identically. A zero corpus vector
    gets the lowest bench id, a NULL ``max_cos`` and no flag.
    """
    import pandas as pd

    spark = corpus.sparkSession
    b_pdf = (
        bench.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max_bench_rows + 1)
        .toPandas()
    )
    if len(b_pdf) == 0:
        raise ValueError("semantic_decontam_flags: benchmark side is empty")
    if len(b_pdf) > max_bench_rows:
        raise ValueError(
            f"benchmark side exceeds max_bench_rows={max_bench_rows}; a "
            "driver-collected benchmark must be broadcast-sized"
        )
    bc = spark.sparkContext.broadcast(
        (b_pdf[id_col].to_numpy(), _unit(b_pdf[vec_col]))
    )
    thr = float(threshold)

    def _flag(batches):
        ids, mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = np.round(_cos(_unit(pdf[vec_col]), mat), 6)
            best = np.argmax(sims, axis=1)
            top = sims[np.arange(len(sims)), best]
            yield pd.DataFrame(
                {
                    "_id": pdf[id_col].to_numpy(),
                    "bench_id": ids[best],
                    "max_cos": np.where(top > -np.inf, top, np.nan),
                    "contaminated": top >= thr,
                }
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    b_id_type = bench.schema[id_col].dataType.simpleString()
    schema = (
        f"_id {id_type}, bench_id {b_id_type}, "
        "max_cos double, contaminated boolean"
    )
    return (
        _fan_out(corpus.select(id_col, vec_col))
        .mapInPandas(_flag, schema)
        .withColumnRenamed("_id", id_col)
    )


def _centroid_matrix(centroids: DataFrame, id_col: str, vec_col: str):
    """(ids, unit rows) in centroid id order — the order an all-undefined
    argmax falls back to."""
    pdf = centroids.select(id_col, vec_col).toPandas().sort_values(id_col)
    return pdf[id_col].to_numpy(), _unit(pdf[vec_col])


def _centroids_df(spark, mat, vec_col: str) -> DataFrame:
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    return local_frame(spark, rows, f"centroid_id long, {vec_col} array<double>")


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 32,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_target: int = 65536,
) -> DataFrame:
    """Train IVF centroids: deterministic seed sample + Lloyd refinement.

    Training is SAMPLE-BASED by default: when the corpus exceeds
    ``train_sample_target`` rows, seeds and every refinement pass run
    on a deterministic md5-ticket hash sample of ~that size (content-
    keyed, repartition-invariant — see llm/sampling.hash_sample), so
    the train path never scans the full 100 TB corpus per retrain; only
    the one-off ``ivf_build`` assignment pass does. Centroid quality is
    insensitive to training-set size far above C (k-means on a uniform
    sample converges to the same cell structure), and recall stays
    pinned by test_ivf_recall_vs_bruteforce. Set
    ``train_sample_target=0`` to force full-corpus training.

    Seeds are the first ``n_centroids`` training rows in md5(id) order
    — uniform and engine-reproducible (TakeOrdered, no full sort
    materialization). Each refinement iteration is one distributed
    assign pass (BLAS argmax per Arrow batch) plus a per-dimension mean
    aggregate; only the C x dim centroid matrix ever reaches the
    driver. C stays FIXED as the corpus grows — recall is tuned with
    nprobe, cost of assignment stays O(N_train*C).
    """
    from my_weather_spark.llm import sampling

    spark = corpus.sparkSession
    train = corpus.select(id_col, vec_col)
    if train_sample_target:
        # count() on a parquet source is metadata-only; the md5-ticket
        # filter keeps the sample deterministic across partitionings.
        n = corpus.count()
        if n > train_sample_target:
            train = sampling.hash_sample(
                train, rate=train_sample_target / n, seed="ivf_train",
                id_col=id_col,
            )
    seeds = (
        train
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    if not seeds:
        return _centroids_df(spark, np.zeros((0, 1)), vec_col)
    mat = _unit([r[vec_col] for r in seeds])
    for _ in range(refine_iters):
        cdf = _centroids_df(spark, mat, vec_col)
        assigned = ivf_assign(
            train, cdf, id_col, vec_col, _cmat=(np.arange(len(mat)), mat)
        )
        means = (
            assigned.select("centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
        )
        pdf = means.toPandas()  # C x dim rows — tiny by construction
        new = mat.copy()
        for cid, g in pdf.groupby("centroid_id"):
            v = np.zeros(mat.shape[1])
            v[g["pos"].to_numpy()] = g["m"].to_numpy()
            n = np.linalg.norm(v)
            if n > 0:
                new[int(cid)] = v / n
        mat = new
    return _centroids_df(spark, mat, vec_col)


def ivf_build(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One assignment pass over the corpus, persisted PARTITIONED BY
    centroid_id. Probing the returned table with a
    ``centroid_id IN (...)`` predicate is a partition-pruned scan that
    reads ~nprobe/C of the data — the index is built once, never
    reassigned per query."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    # cluster rows by bucket before the partitioned write: each task
    # then writes whole partition directories (C files total), not a
    # tasks x C spray of small files.
    assigned.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)
    return corpus.sparkSession.read.parquet(path)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    _cmat=None,
    fan_out: bool = True,
    centroid_id_type: str = "long",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (by cosine).

    The centroid matrix (tiny by construction) broadcasts; each Arrow
    batch of the corpus does one BLAS product + argmax — a single
    shuffle-free narrow pass, no join, no window. ``_cmat`` lets a
    caller that already collected the centroid matrix pass it in
    (ivf_topk needs it twice — once here, once for probe selection).
    ``fan_out=False`` skips the small-input repartition — right when
    the very next op is itself a shuffle that supplies the
    parallelism (semantic_dedup's cluster groupBy), since the assign
    is O(k x dim) per row, cheap relative to what follows. A zero
    vector goes to the first centroid of the matrix (centroid id
    order, or the caller's ``_cmat`` order).
    """
    spark = corpus.sparkSession
    c_ids, c_mat = _cmat or _centroid_matrix(centroids, "centroid_id", vec_col)
    bc = spark.sparkContext.broadcast((c_ids, c_mat))

    def _assign(batches):
        import pandas as pd

        ids, mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            best = np.argmax(_cos(_unit(pdf[vec_col]), mat), axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out[centroid_id_col] = ids[best]
            yield out

    id_type = corpus.schema[id_col].dataType.simpleString()
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, {vec_col} {vec_type}, "
        f"{centroid_id_col} {centroid_id_type}"
    )
    narrow = corpus.select(id_col, vec_col)
    if fan_out:
        narrow = _fan_out(narrow)
    return narrow.mapInPandas(_assign, schema)


def ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest centroid buckets
    per query, exact cosine within the probed buckets only.

    ``index`` is the ivf_build output (corpus rows + centroid_id,
    persisted partitioned by centroid_id): the probe plans a
    ``centroid_id IN (...)`` filter, so the scan is partition-pruned
    to the probed buckets — nothing is reassigned per query. A raw
    corpus (no centroid_id column) is accepted for ad-hoc use and
    assigned on the fly.

    The query side is driver-collected to pick probe buckets, so it
    must be broadcast-sized — enforced via ``max_query_rows``; an
    unbounded collect here is a driver OOM at scale.
    """
    spark = index.sparkSession
    # Collect the (tiny) centroid matrix once; reused for both bucket
    # assignment and driver-side probe selection.
    c_ids, c_mat = _centroid_matrix(centroids, "centroid_id", vec_col)
    if "centroid_id" in index.columns:
        bucketed = index
    else:
        bucketed = ivf_assign(index, centroids, id_col, vec_col, _cmat=(c_ids, c_mat))
    q_pdf = queries.select(id_col, vec_col).limit(max_query_rows + 1).toPandas()
    if len(q_pdf) > max_query_rows:
        raise ValueError(
            f"query side exceeds max_query_rows={max_query_rows}; a "
            "driver-collected query batch must be broadcast-sized"
        )
    n_id_type = index.schema[id_col].dataType.simpleString()
    q_id_type = queries.schema[id_col].dataType.simpleString()
    q_vec_type = queries.schema[vec_col].dataType.simpleString()
    if len(q_pdf) == 0:
        # an empty query batch has an empty answer, not an np.stack crash
        return spark.createDataFrame(
            [], f"query_id {q_id_type}, neighbor_id {n_id_type}, cos double, rank int"
        )
    sims = _cos(_unit(q_pdf[vec_col]), c_mat)
    _cast = int if q_id_type in ("bigint", "int", "smallint", "tinyint") else (lambda x: x)
    probe_rows = []
    for qi, qid in enumerate(q_pdf[id_col].tolist()):
        # deterministic probe order: (-sim, centroid_id)
        order = sorted(range(len(c_ids)), key=lambda j: (-sims[qi, j], c_ids[j]))
        for j in order[:nprobe]:
            probe_rows.append(
                (_cast(qid), int(c_ids[j]), [float(x) for x in q_pdf[vec_col][qi]])
            )
    # the query side's OWN vector type: forcing float32 here would
    # truncate double embeddings and let near-tied neighbors swap ranks
    qprobe = local_frame(
        spark, probe_rows, f"query_id {q_id_type}, centroid_id long, _qv {q_vec_type}"
    )
    # Literal IN-list on the partition column: guarantees static
    # partition pruning at the parquet scan (PartitionFilters), beyond
    # whatever runtime filtering the broadcast join adds.
    probed = sorted({r[1] for r in probe_rows})
    bucketed = bucketed.where(F.col("centroid_id").isin(probed))
    joined = (
        bucketed.join(F.broadcast(qprobe), "centroid_id")
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "_qv")
    )

    # Score candidate rows vectorized (one einsum per Arrow batch)
    # instead of per-row interpreted HOF evaluation.
    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos = np.round(_cos(_unit(pdf["_cv"]), _unit(pdf["_qv"]), rowwise=True), 6)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cos": np.where(cos > -np.inf, cos, np.nan),
                }
            )

    scored = joined.mapInPandas(
        _score, f"query_id {q_id_type}, neighbor_id {n_id_type}, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ----------------------------------------------------------------------
# SRP-LSH: signed-random-projection buckets for high-threshold
# cosine near-dup at corpus-x-corpus scale.
def srp_codes(
    corpus: DataFrame,
    n_planes: int = 256,
    band_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_key) — banded sign-bit codes under ``n_planes``
    fixed random hyperplanes.

    P[sign bit agrees] = 1 - angle/pi, so two vectors at cosine c agree
    per bit with prob 1 - arccos(c)/pi; a band of b bits collides with
    that to the b-th power. Hyperplanes come from a seeded RNG on the
    driver (deterministic, no per-executor state) and broadcast; codes
    are one BLAS product + bit-pack per Arrow batch — narrow, no
    shuffle, same shape as ivf_assign.

    Band geometry is the scale lever: ``band_bits`` must grow with
    log2(corpus) so random band collisions (~N^2 / 2^band_bits per
    band) stay sparse, and recall is recovered by adding bands (more
    planes), not by narrowing them. The 16-bit default gives 65536
    bucket values per band; at cos 0.95 the 16 bands yield recall
    ~1-(1-0.899^16)^16 ≈ 0.96. The old 8-bit default degenerated to
    256 buckets/band — a near-quadratic self-join at corpus scale.

    Zero-norm vectors (e.g. hashed-BoW of wordless docs) have no
    direction and are dropped here: every zero vector lands in the
    same sign-bit bucket (all bits 0), pairing all of them, and their
    cosine is undefined — never a near-dup.
    """
    if band_bits >= 63:
        raise ValueError("band_bits must fit a signed 64-bit band_key")
    if n_planes % band_bits != 0:
        raise ValueError(f"n_planes ({n_planes}) must divide into {band_bits}-bit bands")
    n_bands = n_planes // band_bits
    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, band int, band_key long"

    def _code(batches):
        import pandas as pd

        # Hyperplanes are regenerated per task from the fixed seed
        # (dim read off the first batch) — identical everywhere by
        # construction, no driver probe job, no broadcast.
        Hm = None
        weights = (1 << np.arange(band_bits)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if Hm is None:
                Hm = np.random.RandomState(seed).standard_normal(
                    (A.shape[1], n_planes)
                )
            nz = np.linalg.norm(A, axis=1) > 0
            if not nz.all():
                pdf = pdf[nz].reset_index(drop=True)
                A = A[nz]
            if len(pdf) == 0:
                continue
            bits = (A @ Hm) > 0  # (n, n_planes) sign bits
            out = []
            for band in range(n_bands):
                chunk = bits[:, band * band_bits : (band + 1) * band_bits]
                keys = chunk.astype(np.int64) @ weights
                out.append(
                    pd.DataFrame({id_col: pdf[id_col], "band": band, "band_key": keys})
                )
            yield pd.concat(out)

    return _fan_out(corpus.select(id_col, vec_col)).mapInPandas(_code, schema)


def srp_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 256,
    band_bits: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 8192,
) -> DataFrame:
    """All corpus pairs with cosine >= ``threshold`` found via SRP-LSH
    candidate buckets + exact verify: (id_a, id_b, cos), id_a < id_b.

    Precision is exact (every emitted pair is verified by true cosine);
    recall is the LSH collision probability — tune (n_planes,
    band_bits) to the threshold: at cos 0.95 the defaults give
    ~1 - (1 - 0.899^16)^16 ≈ 0.96; more bands → higher recall, more
    candidates. This is the corpus-x-corpus scale path where the dense
    block-matrix pass (cosine_self_pairs) would be quadratic:
    candidates are confined to equal (band, band_key) buckets, i.e.
    near-dup clusters, and everything else never pairs up.

    Candidate generation and exact verify are FUSED per bucket in one
    sorted scan: singleton buckets are dropped on the narrow code rows
    first, the vectors are joined onto the surviving rows, and the rows
    shuffle ONCE on (band, band_key) and arrive sorted, so each bucket
    is a contiguous run of an Arrow batch (the trailing run of a batch
    may continue in the next one and is carried over). Each bucket
    scores its own pairs with blocked BLAS products of 256 rows, so
    peak memory stays ~256 x bucket scores; only pairs at or over the
    threshold leave the scan. Shuffled vector bytes are one (vector +
    code) row per COLLIDING (doc, band), never one row per candidate
    PAIR. Zero-norm vectors never reach the verify (dropped in
    srp_codes). Above ``max_bucket`` members a
    bucket verifies hub-and-spoke against its min-id member (linear
    work, and the per-task skew bound: a bucket is scanned by exactly
    one task); widening band_bits remains the right first response
    when hot buckets appear, the cap is the backstop.

    A pair found in several bands carries the same cosine each time and
    the final distinct() keeps one. The scan stays hand-written because
    both Spark-primitive replacements measured 6-7x slower at sf0.1 on
    4 cores: the MinHash bucket self-join
    (:func:`~my_weather_spark.llm.dedup.band_key_pairs`) plus a JVM
    cosine verify, which scores every candidate pair, and a
    ``groupBy(band, band_key).applyInPandas`` per bucket.
    """
    # The corpus projection feeds both the code pass and the vector
    # attach; checkpoint so an expensive upstream plan (e.g. a
    # hashed-BoW aggregation) is computed once, not once per use.
    proj = corpus.select(id_col, vec_col).localCheckpoint(eager=True)
    codes = srp_codes(proj, n_planes, band_bits, seed, id_col, vec_col)
    # Drop singleton buckets on the NARROW code rows (id, band,
    # band_key) — they can't produce a pair, and they are the vast
    # majority of buckets under sparse banding. Sizing buckets before
    # the vectors are attached keeps the bucket-key exchange at ~20
    # bytes/row; the wide embedding payload is joined on afterwards and
    # shuffled only for the surviving (collision) rows.
    wb = W.partitionBy("band", "band_key")
    sized = (
        codes.withColumn("_n", F.count(F.lit(1)).over(wb))
        .where(F.col("_n") >= 2)
        .drop("_n")
    )
    # Vectors ride to the surviving buckets via a JVM-side join onto
    # the code rows (Tungsten-format arrays, no Python round-trip) and
    # cross into Python exactly once, at the verify boundary.
    fat = sized.join(proj, id_col)
    id_type = corpus.schema[id_col].dataType.simpleString()

    def _scan(batches):
        import pandas as pd

        def _pairs(ids, X, out):
            n = len(ids)
            if n > max_bucket:
                hub = int(np.argmin(ids))
                S = _cos(X[hub : hub + 1], X).round(6)[0]
                m = S >= threshold
                m[hub] = False
                out.append((np.full(int(m.sum()), ids[hub]), ids[m], S[m]))
                return
            for s in range(0, n - 1, 256):
                S = _cos(X[s : s + 256], X[s:]).round(6)
                bi, bj = np.nonzero(S >= threshold)
                up = bi < bj
                bi, bj = bi[up], bj[up]
                ia, ib = ids[s + bi], ids[s + bj]
                swap = ia > ib
                out.append(
                    (np.where(swap, ib, ia), np.where(swap, ia, ib), S[bi, bj])
                )

        def _frame(out):
            cols = [np.concatenate(c) for c in zip(*out)]
            return pd.DataFrame(dict(zip(("id_a", "id_b", "cos"), cols)))

        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            part = [
                pdf[id_col].to_numpy(),
                _unit(pdf[vec_col]),
                pdf["band"].to_numpy(),
                pdf["band_key"].to_numpy(),
            ]
            if carry is not None:
                part = [np.concatenate(c) for c in zip(carry, part)]
            ids, X, band, key = part
            cut = (band[1:] != band[:-1]) | (key[1:] != key[:-1])
            starts = np.concatenate(([0], np.flatnonzero(cut) + 1))
            out = []
            for s, e in zip(starts[:-1], starts[1:]):
                if e - s >= 2:
                    _pairs(ids[s:e], X[s:e], out)
            carry = [c[starts[-1] :] for c in part]
            if out:
                yield _frame(out)
        if carry is not None and len(carry[0]) >= 2:
            out = []
            _pairs(carry[0], carry[1], out)
            if out:
                yield _frame(out)

    return (
        fat.repartition("band", "band_key")
        .sortWithinPartitions("band", "band_key")
        .mapInPandas(_scan, f"id_a {id_type}, id_b {id_type}, cos double")
        .distinct()
    )


# ----------------------------------------------------------------------
# SemDeDup: cluster-bounded exact-cosine semantic dedup.
def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "semdedup",
    keep: str = "min_id",
) -> DataFrame:
    """Semantic (embedding-space) near-dup removal, SemDeDup-style
    (Abbas et al. 2023, arXiv:2303.09540): partition the corpus into
    ``n_clusters`` embedding clusters, then within each cluster drop
    every vector that has a higher-priority near-duplicate
    (rounded cosine >= ``threshold``). Output one row per input vector:
    ``(id, cluster_id, kept)``.

    Cluster anchors are the ``n_clusters`` corpus vectors with the
    lowest md5 tickets (the shared sampling ticket formula —
    deterministic, content-keyed, engine-reproducible); every vector
    goes to its max-cosine anchor (ties: lowest-ticket anchor). Using
    anchor vectors instead of Lloyd-iterated centroids keeps the whole
    operator closed-form — the same clustering is expressible in the
    SQL oracle, so the dedup decisions are hash-verifiable end to end
    (the k-means variant of the same shape is ivf_centroids/ivf_assign,
    pinned by recall tests instead).

    Keep rule: within a cluster, a vector is dropped iff SOME
    higher-PRIORITY vector in the cluster is within ``threshold`` — a
    single vectorized pass, deterministic, and the survivors of a
    cluster are pairwise BELOW threshold (so a re-run under the SAME
    anchors drops nothing; a fresh run re-derives anchors from the
    kept subset and may re-cluster). ``keep`` picks the priority:
    ``"min_id"`` (default, ascending id — the oracle-matched form) or
    ``"far_from_anchor"`` (ascending cosine to the cluster anchor,
    ties by id — the paper's diversity-keeping choice: the retained
    example of each duplicate region is the one farthest from the
    cluster center). Either way this is the scalable one-pass
    variant of SemDeDup's per-group survivor choice; it can
    over-drop a chain tail vs the sequential greedy (A~B, B~C, A!~C
    drops both B and C) — the documented trade for not iterating.

    Scale shape (100 TB): anchor matrix broadcasts (k x dim); the
    assign pass is narrow (one BLAS argmax per Arrow batch, no join —
    ivf_assign); then ONE shuffle on cluster_id and a per-cluster
    blocked upper-triangle BLAS (_BLOCK x m tiles, memory-bounded).
    Work is the inherent sum of m_c^2 within-cluster comparisons —
    ``n_clusters`` is the lever and must scale with the corpus
    (k ~ N / target_cluster_size) to bound both skew and quadratic
    cost, exactly the published SemDeDup deployment shape. No
    counterpart in the reference repo (no embedding path there).

    A zero vector joins the lowest-ticket anchor's cluster and is always
    kept.
    """
    import pandas as pd

    from my_weather_spark.llm.sampling import _ticket

    if n_clusters < 1:
        # limit(0) would silently return an empty result for a
        # NON-empty corpus — make the misconfiguration loud instead
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    if keep not in ("min_id", "far_from_anchor"):
        raise ValueError(f"keep must be 'min_id' or 'far_from_anchor', got {keep!r}")
    id_type = corpus.schema[id_col].dataType.simpleString()
    # cluster_id carries the anchor's corpus id, so it has the id type
    out_schema = f"{id_col} {id_type}, cluster_id {id_type}, kept boolean"
    seeds = (
        corpus.select(id_col, vec_col)
        .withColumn("_tk", _ticket(id_col, seed))
        .orderBy("_tk", id_col)
        .limit(n_clusters)
        .collect()
    )  # k rows — bounded driver metadata, same pattern as ivf_centroids
    if not seeds:
        return corpus.sparkSession.createDataFrame([], out_schema)
    seed_ids = np.asarray([r[id_col] for r in seeds])  # int or string ids
    mat = _unit([r[vec_col] for r in seeds])
    assigned = ivf_assign(
        corpus, None, id_col, vec_col,
        centroid_id_col="cluster_id", _cmat=(seed_ids, mat),
        fan_out=False,  # the cluster groupBy right after is the fan-out
        centroid_id_type=id_type,
    )

    def _dedup_cluster(key, pdf):
        ids_raw = pdf[id_col].to_numpy()
        A = _unit(pdf[vec_col])
        if keep == "min_id":
            order = np.argsort(ids_raw, kind="stable")
        else:
            # ascending anchor-cosine = farthest-from-center first (the
            # k x dim anchor matrix rides in the kernel's closure); a
            # zero vector's place is moot, it never hits
            ac = _cos(A, mat[seed_ids == key[0]])[:, 0]
            order = np.lexsort((ids_raw, ac))
        ids = ids_raw[order]
        A = A[order]
        m = len(ids)
        dropped = np.zeros(m, dtype=bool)
        for s in range(0, m, _BLOCK):
            gi = np.arange(s, min(s + _BLOCK, m))
            hit = np.round(_cos(A[gi], A), 6) >= threshold
            # rows are priority-sorted: column j is dropped when some
            # strictly higher-priority row i (i < j in sort order) hits
            mask = np.arange(m)[None, :] > gi[:, None]
            dropped |= (hit & mask).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cluster_id": key[0], "kept": ~dropped}
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        _dedup_cluster, schema=out_schema
    )
