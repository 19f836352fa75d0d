"""Deduplication operators for large-scale text corpora.

Beyond-reference operators (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard — all pure DataFrame
compositions (JVM-side, codegen'd; no Python UDFs), designed for the
standard web-scale dedup pipeline shape:

    shingle -> minhash signature -> band -> bucket join -> verify

Scale notes (100 TB):
* every step is a groupBy/join keyed by doc or band-bucket — shuffles
  are on uniformly-distributed hash keys (md5), no skew by design;
* the LSH bucket join replaces the quadratic all-pairs comparison —
  candidate pairs ~ O(docs x band collisions), then exact Jaccard only
  on candidates; buckets over ``max_bucket`` degrade to hub-and-spoke
  stars (linear) so one ultra-duplicated page can't emit B^2 pairs
  from a single band key;
* hashes are md5-based and ENGINE-PORTABLE (hex strings / hex-prefix
  ints), so results are reproducible across Spark/DuckDB — important
  for cross-engine validation of a petabyte dedup run before deleting
  anything.
"""

from __future__ import annotations

import gc
from functools import reduce
from operator import add, or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from my_weather_spark.llm._util import fan_out as _fan_out
from my_weather_spark.ops.timeseries import round6_portable
from my_weather_spark.session import checkpoint, local_frame


# ----------------------------------------------------------------------
# Exact dedup: hash-groupBy on content.
def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: (content_hash, n_copies, keep_id).
    keep_id = smallest id (deterministic survivor pick)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id row per distinct content (the actual dedup)."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ----------------------------------------------------------------------
# Word shingles (the unit of near-dup similarity).
def word_array(text_col: str):
    """Distinct single-space-token word array — THE tokenization every
    dedup stage shares (minhash signatures, Jaccard verify, dense
    pairs, simhash). One definition so a tokenization tweak changes
    all stages together, never one of them silently."""
    return F.array_distinct(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    )


def md5_prefix_long(col, hex_chars: int):
    """Leading ``hex_chars`` md5 hex chars as a long — the shared
    engine-portable uniform hash (8 chars = 32-bit minhash base,
    15 chars = 60-bit verify/fingerprint hash; both stay positive in a
    signed 64-bit long here and in SQL oracles)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


# ----------------------------------------------------------------------
# MinHash signatures + LSH banding.
#
# Fixed universal-hash constants (odd, < 2^30 so a*h fits int64 with a
# 32-bit word hash; p = 2^31-1, Mersenne prime).
_MINHASH_P = 2147483647
_MINHASH_A = [
    387420489, 576460801, 268435399, 402653189, 536870923, 671088667,
    805306457, 939524129, 73014449, 206158463, 339738391, 473059897,
    606580379, 739978753, 873463093, 1006895341,
]
_MINHASH_B = [
    15485863, 32452843, 49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424673, 198491317, 217645177,
    236887691, 256203161, 275604541, 295075147,
]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_key): per-band concatenated minhash signature.

    hash_i(word) = md5(i || ':' || word); signature_i = min over the
    doc's word set. Band key joins ``band_size`` consecutive signature
    values. Min over lexicographic md5 hex is a valid uniform minhash
    (any total order over a uniform hash works).

    Implementation is SHUFFLE-FREE and hashes each word ONCE: the
    universal-hash family h_i(w) = (a_i * h(w) + b_i) mod p derives all
    ``num_hashes`` minhashes from a single md5 per word (h(w) = first
    8 md5 hex chars as int, p = 2^31-1, a_i < 2^30 so products fit
    int64 in every engine). The whole signature is built in-row with
    array higher-order functions — at 100 TB this is one narrow map
    pass over the corpus instead of an exploded
    (docs x words x hashes) shuffle.
    """
    # posexplode the key expression in the SAME projection as the
    # signature: exploding a separate, unmaterialized key projection
    # rebuilds the signature (6.4-7.0 s against 1.4-1.5 s at sf0.1 on
    # 4 cores, best of 3).
    return _minhash_sigs(df, num_hashes, band_size, text_col, id_col).select(
        F.col(id_col),
        F.posexplode(_band_keys(num_hashes, band_size)).alias("band", "band_key"),
    )


def minhash_band_keys(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, _keys): :func:`minhash_signatures`' band keys kept as one
    array per doc (wide layout), the input of :func:`band_key_pairs`.
    Materialize it before use: the pair join reads it more than once."""
    return _minhash_sigs(df, num_hashes, band_size, text_col, id_col).select(
        F.col(id_col), _band_keys(num_hashes, band_size).alias("_keys")
    )


def _minhash_sigs(
    df: DataFrame,
    num_hashes: int,
    band_size: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, _sigs): the ``num_hashes`` minhash signature of every doc
    with at least one word; :func:`_band_keys` turns it into band keys."""
    if num_hashes > len(_MINHASH_A):
        raise ValueError(f"at most {len(_MINHASH_A)} hash functions supported")
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands of "
            f"{band_size} — a remainder band would be silently dropped"
        )
    df = _fan_out(df)
    a_arr = F.array(*[F.lit(a) for a in _MINHASH_A[:num_hashes]])
    b_arr = F.array(*[F.lit(b) for b in _MINHASH_B[:num_hashes]])
    words = word_array(text_col)
    hashes = F.transform(words, lambda w: md5_prefix_long(w, 8))
    # Empty/whitespace-only docs have NO words: array_min over an empty
    # array is NULL, and array_join drops NULLs, so every empty doc
    # would share the band_key "" — ONE hot LSH bucket emitting all
    # O(n^2) empty-pair candidates (and a maximally skewed join key).
    # They carry no shingle signal to near-dup on; emit no bands.
    with_h = df.select(F.col(id_col), hashes.alias("_wh")).where(
        F.size("_wh") > 0
    )
    sigs = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda s: F.array_min(
            F.transform(
                F.col("_wh"),
                lambda h: (
                    F.element_at(a_arr, s + 1) * h + F.element_at(b_arr, s + 1)
                )
                % F.lit(_MINHASH_P),
            )
        ),
    )
    return with_h.select(F.col(id_col), sigs.alias("_sigs"))


def _band_keys(num_hashes: int, band_size: int):
    """Band-key array over ``_sigs``: element b joins band b's
    ``band_size`` signature values into one comma-separated key.

    One slice per band, unrolled: ``_sigs`` is then referenced once per
    band, so Catalyst keeps the signature in its own projection. A
    ``transform`` over the band indices references it once, inside the
    lambda, and CollapseProject inlines the whole signature build into
    it, rebuilding it once per band (3.6 s against 1.3-1.6 s for the
    4-band wide frame at sf0.1 on 4 cores, best of 3)."""
    return F.array(
        *[
            F.array_join(
                F.transform(
                    F.slice(F.col("_sigs"), b * band_size + 1, band_size),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
            for b in range(num_hashes // band_size)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 4096,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any full band. Output
    (doc_a, doc_b) with doc_a < doc_b, distinct.

    Hot-bucket guard (the 100 TB failure mode of any LSH bucket join):
    a bucket of B colliding docs emits O(B^2) pair rows — one million
    byte-identical boilerplate pages in one bucket is 10^12 candidates
    from a single key, which no amount of partitioning absorbs. Buckets
    larger than ``max_bucket`` therefore degrade to a STAR: every
    member pairs with the bucket minimum only (B-1 pairs, linear).
    Connectivity through the bucket is preserved exactly — downstream
    connected-components labels the whole bucket one cluster via the
    hub — and for the realistic hot case (identical or near-identical
    content, which is WHY the bucket is hot) the hub pairs all pass the
    Jaccard verify, so cluster recall is unchanged. What is given up is
    the per-pair Jaccard of non-hub members of a >max_bucket bucket
    (they reach each other through the hub, not directly); callers that
    need every pairwise score must raise the cap. The default (4096 →
    ≤ ~8.4 M pairs per hot bucket) never triggers at test scale, so
    capped and uncapped plans are bit-identical on the oracle data;
    the degradation is asserted linear in test_llm.
    """
    # Materialize the wide key table once: the hot-bucket aggregate and
    # both join sides read it, and each would otherwise replay the
    # md5-per-word corpus pass.
    wide = minhash_band_keys(df, num_hashes, band_size, text_col, id_col)
    return band_key_pairs(
        wide.localCheckpoint(eager=True), id_col, num_hashes // band_size, max_bucket
    )


def band_key_pairs(
    wide: DataFrame, id_col: str, n_bands: int, max_bucket: int
) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, each pair exactly once: the docs
    of a materialized ``(id, _keys)`` frame (one array of ``n_bands``
    band keys per doc, e.g. :func:`minhash_band_keys` or the simhash
    bands of :func:`simhash_hamming_pairs`) that share a band bucket,
    with buckets over ``max_bucket`` members degraded to stars around
    their min id (see :func:`minhash_lsh_pairs`).

    One self-join on (band, key) for every band, so the plan does not
    grow with ``n_bands``. Every row carries its doc's full key array
    and ``_hubs``, a map band -> (hub, hub's keys) over its doc's hot
    buckets, so a pair can be emitted by its SMALLEST candidate band
    alone: band b drops it when an earlier band j had it as a candidate
    (same band-j key and, for a hot band-j bucket, doc_a is the hub).
    No pair-set distinct() is needed.
    """
    tall = wide.select(
        F.col(id_col), F.posexplode("_keys").alias("band", "_key"), "_keys"
    )
    # ONE aggregate finds the hot buckets (a window over (band, _key)
    # would sort-shuffle every row). The table is tiny (<= corpus /
    # max_bucket rows, empty on healthy data); collected into a
    # LocalRelation, Catalyst prunes the whole hub branch when it is
    # empty, and otherwise the planner broadcasts it by size.
    hot = (
        tall.groupBy("band", "_key")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_hub"))
        .where(F.col("_n") > max_bucket)
        .join(
            wide.select(
                F.col(id_col).alias("_hub"), F.col("_keys").alias("_hub_keys")
            ),
            "_hub",
        )
        .select("band", "_key", "_hub", "_hub_keys")
    )
    hot = local_frame(wide.sparkSession, hot.collect(), hot.schema)
    hubs = (
        tall.join(hot, ["band", "_key"])
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("band", F.struct("_hub", "_hub_keys")))
            ).alias("_hubs")
        )
    )
    tagged = tall.join(hubs, id_col, "left")
    here = F.col("_hubs")[F.col("band")]

    def first_band(doc_a, keys_a, keys_b, hubs):
        # Plain column predicates (codegen'd), one per earlier band.
        seen = [
            (F.col("band") > j)
            & (keys_a[j] == keys_b[j])
            & (hubs[j]["_hub"].isNull() | (doc_a == hubs[j]["_hub"]))
            for j in range(n_bands - 1)
        ]
        return ~reduce(or_, seen, F.lit(False))

    small = tagged.where(here.isNull())
    a = small.select(
        F.col(id_col).alias("doc_a"), "band", "_key",
        F.col("_keys").alias("_ka"), F.col("_hubs").alias("_ha"),
    )
    b = small.select(
        F.col(id_col).alias("doc_b"), "band", "_key", F.col("_keys").alias("_kb")
    )
    pairs = (
        a.join(b, ["band", "_key"])  # the bucket join — the LSH step
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(first_band(F.col("doc_a"), F.col("_ka"), F.col("_kb"), F.col("_ha")))
    )
    # Hot buckets: hub-and-spoke to the bucket minimum (doc_a = hub <
    # member), straight from the member rows. Key equality at band j
    # puts hub and member in one band-j bucket, so the member's
    # ``_hubs`` decides the smallest-band rule as in the self-join.
    star = tagged.where(here.isNotNull() & (F.col(id_col) != here["_hub"])).where(
        first_band(here["_hub"], here["_hub_keys"], F.col("_keys"), F.col("_hubs"))
    )
    return pairs.select("doc_a", "doc_b").unionByName(
        star.select(here["_hub"].alias("doc_a"), F.col(id_col).alias("doc_b"))
    )


# ----------------------------------------------------------------------
# Exact duplicate-span detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): flag exact n-word
# spans that recur across documents — templated/mirrored passages that
# document-level near-dup misses when the surrounding text differs.
def duplicate_span_stats(
    df: DataFrame,
    n: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_spans, n_dup_spans, dup_span_ratio) per document.

    A span is an n-word shingle (distinct per doc, 60-bit hashed); it
    is "duplicated" when it occurs in at least ``min_docs`` distinct
    documents. dup_span_ratio is the fraction of a doc's distinct
    spans that are duplicated — the per-doc removal signal (Lee et al.
    cut the spans; doc-level pipelines threshold the ratio, see
    :func:`drop_span_duplicates`).

    Scale shape: the (doc, span) frame is built once (in-row gram
    hashing, one narrow pass, MATERIALIZED pre-explode — the frequency
    and probe subtrees get different filters pushed in, so Catalyst
    cannot exchange-reuse them and an unmaterialized frame re-runs the
    whole parse+md5 pass per consumer, the minhash-bands lesson) and
    feeds BOTH the span-frequency aggregate and the probe join on the
    same 8-byte shuffle key. The checkpoint holds hash ARRAYS
    (~8 bytes/gram, about the bytes of the text it came from), never
    the exploded frame. The frequency side is filtered to
    ``_nd >= min_docs`` BEFORE the probe join: only spans that can
    flag anything ride the join's build side, so at normal duplication
    rates AQE sees a small side and converts the probe to a
    broadcast-hash join at runtime (no probe sort, no fetch); at
    pathological duplication rates it stays a shuffle join on the
    8-byte key — the canonical distributed exact-substring-dedup shape
    (the suffix-array formulation is single-node). Hash collisions
    (~2^-60) can only over-flag, the conservative direction.
    """
    from my_weather_spark.llm.decontam import _with_ngram_hashes

    hashed = (
        _with_ngram_hashes(_fan_out(df), text_col, n, "_g")
        .select(id_col, "_g")
        .localCheckpoint(eager=True)
    )
    spans = hashed.select(id_col, F.explode_outer("_g").alias("span_h"))
    dup = (
        spans.where(F.col("span_h").isNotNull())
        .groupBy("span_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("span_h", F.lit(1).alias("_dup"))
    )
    flagged = spans.join(dup, "span_h", "left")
    return flagged.groupBy(id_col).agg(
        F.count("span_h").cast("long").alias("n_spans"),
        F.count("_dup").cast("long").alias("n_dup_spans"),
    ).select(
        id_col,
        "n_spans",
        "n_dup_spans",
        F.when(
            F.col("n_spans") > 0,
            round6_portable(F.col("n_dup_spans") / F.col("n_spans")),
        ).alias("dup_span_ratio"),
    )


def drop_span_duplicates(
    df: DataFrame,
    n: int = 20,
    max_dup_ratio: float = 0.5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents whose duplicated-span fraction stays under
    ``max_dup_ratio`` (docs with no spans are kept — no evidence)."""
    stats = duplicate_span_stats(df, n, min_docs, text_col, id_col)
    keep = stats.where(
        F.col("dup_span_ratio").isNull()
        | (F.col("dup_span_ratio") <= max_dup_ratio)
    ).select(id_col)
    return df.join(keep, id_col, "left_semi")


def word_hashes(text_col: str):
    """Distinct 60-bit md5 hashes of :func:`word_array` — THE word set
    every exact-Jaccard verify intersects, and the ``word_hashes``
    column the incremental SignatureStore persists. ~3x cheaper to ship
    and intersect than strings; exact up to a ~2^-60 collision."""
    return F.array_distinct(
        F.transform(word_array(text_col), lambda w: md5_prefix_long(w, 15))
    )


def jaccard_scored(pairs: DataFrame, min_jaccard: float) -> DataFrame:
    """``pairs`` + ``jaccard`` = round6_portable(|a ∩ b| / |a ∪ b|) of
    its :func:`word_hashes` columns ``_wa``/``_wb``, keeping ``jaccard
    >= min_jaccard`` — THE verify score of the candidate, dense and
    incremental paths, so all three agree at the threshold. A pair of
    word-less docs shares no word and is dropped (its NULL score fails
    the threshold), as a SQL word-join verify never emits it."""
    return (
        pairs.withColumn("_ni", F.size(F.array_intersect("_wa", "_wb")))
        .withColumn(
            "jaccard",
            round6_portable(
                F.try_divide(F.col("_ni"), F.size("_wa") + F.size("_wb") - F.col("_ni"))
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .drop("_ni")
    )


def jaccard_for_candidates(
    df: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard scored ONLY for the given candidate pairs
    (doc_a, doc_b) — the verify step after LSH.

    Joins each side's :func:`word_hashes` set onto the pair list and
    scores in-row (:func:`jaccard_scored`): cost is O(|candidates| x
    words-per-doc), never the quadratic word-level self-join — this is
    the function to feed LSH output at corpus scale. The corpus is
    parsed once; building the result runs no Spark job.

    The candidate side is explicitly spread over
    4 x defaultParallelism partitions before the verify: candidates
    are BYTE-small but COMPUTE-heavy (a hash-set intersection per
    row), and byte-based AQE coalescing would happily fold millions
    of pairs onto one core.
    """
    # Lazy checkpoint: the word sets are shared by the two verify join
    # sides (materialized once, on first use) without a separate eager
    # job barrier serializing the parse behind the LSH chain.
    d = (
        df.select(F.col(id_col), word_hashes(text_col).alias("_ws"))
        .localCheckpoint(eager=False)
    )
    a = d.select(F.col(id_col).alias("doc_a"), F.col("_ws").alias("_wa"))
    b = d.select(F.col(id_col).alias("doc_b"), F.col("_ws").alias("_wb"))
    n_part = df.sparkSession.sparkContext.defaultParallelism * 4
    pairs = (
        candidates.select("doc_a", "doc_b")
        .repartition(n_part, "doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
    )
    return jaccard_scored(pairs, min_jaccard).select("doc_a", "doc_b", "jaccard")


def jaccard_pairs_dense(
    df: DataFrame,
    pair_scope_col: str,
    min_jaccard: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard for every doc pair sharing
    ``pair_scope_col`` (e.g. 'source'): self-join docs within the scope
    group and score their :func:`word_hashes` sets in-row
    (:func:`jaccard_scored`). The scoped all-pairs variant, for when an
    LSH pass isn't warranted; at corpus scale feed LSH candidates to
    :func:`jaccard_for_candidates` instead.
    """
    # Materialized once: both self-join sides consume d, and an
    # unmaterialized frame re-runs the parse + hash pass per side.
    d = (
        _fan_out(df)
        .select(
            F.col(id_col),
            F.col(pair_scope_col).alias("_scope"),
            word_hashes(text_col).alias("_ws"),
        )
        .localCheckpoint(eager=True)
    )
    a = d.select(
        F.col(id_col).alias("doc_a"), F.col("_scope"), F.col("_ws").alias("_wa")
    )
    b = d.select(
        F.col(id_col).alias("doc_b"), F.col("_scope"), F.col("_ws").alias("_wb")
    )
    pairs = a.join(b, "_scope").where(F.col("doc_a") < F.col("doc_b"))
    return jaccard_scored(pairs, min_jaccard).select("doc_a", "doc_b", "jaccard")


# ----------------------------------------------------------------------
# Alternating large-star/small-star connected components (the two-phase
# MapReduce CC algorithm; public formulation in Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14). Converges
# in O(log n) rounds vs O(diameter) for neighbor-min propagation —
# the difference between 3 and 60 full-edge shuffles on a long-chain
# component, which is what makes CC tractable on a 100 TB-scale
# near-dup graph. Each round is two neighbourhood-minimum windows over
# the edge list and ONE checkpoint job that also sizes the new edge
# set; intermediates SHRINK monotonically toward the star forest
# (edges point at component minima).
def connected_components_star(
    pairs: DataFrame,
    max_iter: int = 25,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    return_rounds: bool = False,
):
    """(doc_id, component) — component = smallest doc_id reachable.

    large-star: every node's larger neighbors re-attach to its
    neighborhood minimum (including itself). small-star: every node's
    smaller-or-equal neighbors and the node itself attach to the
    neighborhood minimum. Alternate until the edge set is a stable
    star forest; labels fall out as the (node -> root) edges.

    With ``return_rounds=True`` returns (labels, rounds_used) so
    convergence behavior is assertable in tests. Raises RuntimeError
    when the edge set has not converged in ``max_iter`` rounds.
    """
    # Order-invariant edge-set summary, measured by each edge set's own
    # checkpoint job: count plus two independently-seeded 64-bit xor
    # reductions. Edge sets are distinct, so xor cannot cancel
    # duplicate rows — and exactness never rests on the hashes: equal
    # sets ALWAYS summarize equal, so a differing summary is a sound
    # "keep iterating", and an equal one is confirmed by one exact
    # subtract before the loop exits.
    xors = {
        "x1": F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)),
        "x2": F.coalesce(F.expr("bit_xor(xxhash64(u, v, 7919))"), F.lit(0)),
    }
    by_u = Window.partitionBy("u")
    e, n, x = checkpoint(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # orient u > v
        .distinct(),
        **xors,
    )
    e_sum = (n, x)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the undirected neighborhood; m <= u < v, so
        # no (v, m) edge is a self-loop
        und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            und.withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the (u > v)-oriented edges: u and v both
        # attach to u's neighbourhood minimum
        small, n, x = checkpoint(
            large.withColumn("m", F.min("v").over(by_u))
            .select(F.explode(F.array("u", "v")).alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct(),
            **xors,
        )
        # converged when the edge set is unchanged (sets are distinct,
        # so equal count + empty one-way difference <=> equality); the
        # subtract runs once, at convergence, not every round.
        if (n, x) == e_sum and small.subtract(e).limit(1).count() == 0:
            e = small
            break
        # Release the superseded round's checkpoint blocks NOW: the
        # Python wrapper is the only reference keeping the JVM-side
        # RDD (and its executor storage) alive, and py4j finalizers
        # only run at gc — without this, every round's edge set stays
        # pinned until the driver happens to collect, so peak storage
        # grows O(rounds x edges) instead of O(2 x edges). (Skipping
        # the per-round checkpoint instead was evaluated and rejected:
        # the next round references the un-materialized edge set
        # several times, so a skipped checkpoint re-derives the
        # round's plan per reference. The churn is the block
        # RETENTION, not the write.)
        e, e_sum = small, (n, x)
        del small
        gc.collect()
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds — raise max_iter"
        )
    # A converged star forest gives every non-root node exactly one
    # (node -> root) edge, and the roots come from a set difference,
    # so the labels are unique without a distinct.
    roots = e.select(F.col("v").alias("doc_id")).subtract(
        e.select(F.col("u").alias("doc_id"))
    )
    labels = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component")).unionByName(
        roots.select("doc_id", F.col("doc_id").alias("component"))
    )
    if return_rounds:
        return labels, rounds
    return labels


# ----------------------------------------------------------------------
# SimHash: sign of per-bit weighted sums of word hashes.
def simhash(
    df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — ``bits``-bit simhash over the word set.

    Word hash = leading hex chars of md5 (engine-portable int via
    base-16 conv): 8 chars (32-bit) for bits <= 32, 15 chars (60-bit,
    still positive in a signed 64-bit long both here and in DuckDB)
    above; bit b of the simhash is 1 iff sum over words of
    (+1 if word_hash bit b set else -1) > 0.
    """
    if bits > 60:
        raise ValueError("bits must be <= 60 (signed-64 portability)")
    hex_chars = 8 if bits <= 32 else 15
    words = word_array(text_col)
    # Explode + hash-aggregate instead of a nested higher-order
    # `aggregate` over (bits x words): HOF lambdas are interpreted
    # per-element (bits*words evals per doc — 6x slower measured at 60
    # bits), while the exploded form runs the per-bit signed sums in
    # whole-stage-codegen with map-side partial aggregation, so the
    # shuffle carries only (docs x bits) partial sums.
    wh = _fan_out(df).select(
        F.col(id_col),
        F.explode_outer(words).alias("_w"),
    ).select(id_col, md5_prefix_long(F.col("_w"), hex_chars).alias("_h"))
    # Per-bit POPCOUNTS, not signed +-1 sums: sum((h>>b)&1) is a bare
    # shift-and (no conditional branch in the codegen'd update), and
    # sign(sum +-1) > 0 is exactly 2*ones > n. Measured ~20% cheaper on
    # the 60-bit aggregate than the conditional form.
    sums = wh.groupBy(id_col).agg(
        F.count("_h").alias("_n"),
        *[F.sum(F.expr(f"(_h >> {b}) & 1")).alias(f"_s{b}") for b in range(bits)],
    )
    # explode_outer keeps empty/whitespace-only docs as one NULL-hash
    # row; their popcounts are NULL, the 2*ones > n test is NULL, no
    # bit is set, simhash = 0 (same as the in-row formulation).
    # 1 << b stays in Python ints (exact to 2^59) so no JVM int-shift
    # wraparound applies.
    pack = reduce(
        add,
        [
            F.when(2 * F.col(f"_s{b}") > F.col("_n"), F.lit(1 << b)).otherwise(
                F.lit(0)
            )
            for b in range(bits)
        ],
    )
    return sums.select(id_col, pack.cast("long").alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 4096,
) -> DataFrame:
    """Candidate pairs within hamming distance ``max_hamming``:
    (doc_a, doc_b, hamming), doc_a < doc_b, each pair exactly once.

    Pigeonhole banding: split the simhash into ``max_hamming + 1``
    bit-bands — any pair within the distance budget must agree EXACTLY
    on at least one band, so an equal-band bucket search finds all
    true candidates. The band values are the ``_keys`` of
    :func:`band_key_pairs`, MinHash's bucket self-join, which emits
    each candidate once and applies the ``max_bucket`` hub-and-spoke
    guard (identical docs share a simhash, so one ultra-duplicated page
    is one bucket per band threatening B^2 pairs); the exact hamming
    distance (``bit_count`` of the xor) then drops false positives.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    if band_bits == 0:
        raise ValueError(f"bits={bits} too small for {n_bands} bands")
    keys = F.array(
        *[
            F.expr(f"(simhash >> {i * band_bits}) & {(1 << band_bits) - 1}")
            for i in range(n_bands)
        ]
    )
    wide = simhash(df, bits, text_col, id_col).select(
        id_col, "simhash", keys.alias("_keys")
    ).localCheckpoint(eager=True)
    pairs = band_key_pairs(wide, id_col, n_bands, max_bucket)
    side = wide.select(id_col, "simhash")
    return (
        pairs.join(side.toDF("doc_a", "_ha"), "doc_a")
        .join(side.toDF("doc_b", "_hb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
