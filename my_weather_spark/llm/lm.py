"""N-gram language-model perplexity scoring — the CCNet/KenLM-style
quality signal: score each document by how well a reference corpus's
bigram model predicts it; far-from-reference documents (boilerplate,
gibberish, wrong register) score high-perplexity and get filtered or
bucketed. (Public method: CCNet [Wenzek et al. 2020] scores Common
Crawl against a Wikipedia KenLM; this is the same shape with an
add-alpha bigram model instead of modified-Kneser-Ney, which keeps the
math exactly replayable in a SQL oracle.)

Model: P(w2 | w1) = (c(w1 w2) + alpha) / (c1(w1) + alpha * V), where
c(w1 w2) = bigram count in the reference, c1(w1) = count of w1 as a
bigram PREFIX (so the smoothed distribution normalizes over the
vocabulary), V = reference vocabulary size + 1 (the +1 is the UNK
mass: unseen prefixes fall back to 1/V). Scores are mean log-prob per
bigram (natural log) and perplexity exp(-mean).

Scale shape (corpus ~100 TB, reference ~MBs — same asymmetry as
decontamination): the model is reference-derived and SMALL by
construction — ONE broadcast table (w1, c1, map w2 -> c12) fusing the
bigram and prefix counts in a single groupBy(w1), so the corpus side
probes one broadcast join (not two) and collapses back with one
map-side combined aggregation. One narrow corpus pass, no corpus
shuffle except the per-doc aggregate. V (reference vocabulary size)
stays IN-PLAN as a one-row broadcast crossjoin — no driver action
blocks the plan — and the reference corpus' bigram explode runs once
(c1 = Σ_w2 c12 by definition, derived from the bigram table).

Float determinism: the per-doc sum of log-probs is order-dependent at
~1e-15 relative; outputs round to 6 decimals (engine convention), far
above the reorder noise, so Spark and the SQL oracle hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_weather_spark.llm.text import _words


def _word_col(text_col: str):
    # shared tokenization (text._words) — the oracle-visible contract;
    # a diverging copy would silently fork Spark-vs-oracle tokens
    return _words(F.col(text_col))


def _doc_bigrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_empty: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence, words bound to a
    column before the sliding transform (the quadratic-HOF gotcha, see
    llm/decontam._ngram_hashes' perf contract).

    With ``keep_empty`` a document under 2 words emits ONE sentinel
    row (NULL w1/w2) instead of vanishing, so a downstream
    groupBy(id) keeps every document and the scoring plan needs no
    join back to the id list — one fewer join stage and one fewer
    corpus scan."""
    b = df.select(
        F.col(id_col), *carry_cols, _word_col(text_col).alias("_w")
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda p: F.struct(
            F.element_at("_w", p).alias("w1"),
            F.element_at("_w", p + 1).alias("w2"),
        ),
    )
    empty_t = "array<struct<w1:string,w2:string>>"
    if keep_empty:
        fallback = F.array(F.lit(None)).cast(empty_t)
    else:
        # sequence(1, k) DESCENDS for k < 1 — short docs have none
        fallback = F.array().cast(empty_t)
    return b.select(
        id_col,
        *carry_cols,
        F.explode(
            F.when(F.size("_w") >= 2, pairs).otherwise(fallback)
        ).alias("_bg"),
    ).select(
        id_col,
        *carry_cols,
        F.col("_bg.w1").alias("w1"),
        F.col("_bg.w2").alias("w2"),
    )


def _model_frame(
    ref: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(w1, c1, _m): the add-alpha bigram model as ONE broadcast
    table — c1(w1) = prefix count (= Σ_w2 c12 by definition) and
    _m = map w2 -> c12, fused in a single groupBy(w1) so the scoring
    side probes one broadcast join instead of two (bigram + prefix
    tables separately cost an extra broadcast exchange and join
    stage per query).

    The explode emits ONE ROW PER WORD OCCURRENCE — (word, next word)
    for all but the last word of a doc, (word, NULL) for the last —
    instead of one row per bigram. NULL-w2 rows contribute nothing to
    c1 or _m (a word appearing ONLY doc-final gets c1=0 and an empty
    map, which scores identically to being absent from the model:
    both sides of the coalesce produce the same add-alpha value), but
    they make every distinct reference word a w1 group — so the
    vocabulary size V is exactly the model frame's ROW COUNT + 1 and
    `_vocab_row` needs no second reference scan or distinct shuffle
    (it was ~0.23 s of pure ref-side stage floor per query at toy
    scale, and one full reference tokenization at any scale)."""
    b = ref.select(_word_col(text_col).alias("_w"))
    n = F.size("_w")
    # (w_p, w_{p+1} or NULL); ANSI guard: element_at past the end
    # THROWS in vanilla Spark 4 sessions, so the last pair's w2 comes
    # from an explicit when(). sequence(1, 0) DESCENDS — empty docs
    # fall back to an empty array (they contribute no words).
    pairs = F.transform(
        F.sequence(F.lit(1), n),
        lambda p: F.struct(
            F.element_at("_w", p).alias("w1"),
            F.when(p < n, F.element_at("_w", p + 1)).alias("w2"),
        ),
    )
    empty_t = "array<struct<w1:string,w2:string>>"
    occ = b.select(
        F.explode(
            F.when(n >= 1, pairs).otherwise(F.array().cast(empty_t))
        ).alias("_bg")
    ).select(F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    pair_counts = occ.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    # collect_list skips NULL elements, so the when() drops the
    # NULL-w2 sentinel rows from the map; their c12 likewise stays
    # out of the prefix count.
    return pair_counts.groupBy("w1").agg(
        F.sum(
            F.when(F.col("w2").isNotNull(), F.col("c12")).otherwise(0)
        ).alias("c1"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("w2").isNotNull(), F.struct("w2", "c12")
                )
            )
        ).alias("_m"),
    )


def _vocab_row(model: DataFrame) -> DataFrame:
    # V = |reference vocab| + 1 (UNK) as a ONE-ROW frame, kept in-plan
    # (broadcast crossjoin) instead of a blocking driver count().
    # The model frame has exactly one row per distinct reference word
    # (_model_frame's NULL-w2 sentinel guarantees doc-final words
    # appear as w1 too), so V is its row count + 1 — no separate
    # reference scan. The caller checkpoints the model so this second
    # consumer reads the materialized frame, not a re-derived chain.
    return model.agg((F.count(F.lit(1)) + 1).alias("_V"))


def perplexity_scores(
    docs: DataFrame,
    ref: DataFrame,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, n_bigrams, avg_logp, ppl) per document.

    ``carry_cols`` ride through the bigram explode and the per-doc
    group keys, so callers needing extra per-doc columns (ppl_buckets
    and its group column) avoid a second corpus scan + join back.

    avg_logp = mean natural-log bigram probability under the
    reference add-alpha model (rounded 6); ppl = exp(-avg_logp)
    (rounded 4). Documents with fewer than 2 words keep NULL scores.
    The fused model table broadcasts once; V rides as a 1-row
    broadcast crossjoin (scalar-subquery pattern) so no driver action
    blocks the plan; the corpus never shuffles except the
    per-document aggregate.
    """
    # LAZY checkpoint: the model frame has two consumers (the
    # broadcast join and the vocab-size row) — without it the whole
    # ref chain re-derives per consumer (ReusedExchange does not
    # cross the BroadcastExchange boundary). Materializes inside the
    # first consumer's job, costing no job of its own.
    model = _model_frame(ref, text_col, id_col).localCheckpoint(
        eager=False
    )
    vocab = _vocab_row(model)
    # keep_empty sentinel rows stand in for <2-word docs, so the
    # per-doc aggregate below keeps every document and no join back
    # to the id list is needed (sentinels score NULL and count 0)
    bg = _doc_bigrams(
        docs, text_col, id_col, keep_empty=True, carry_cols=carry_cols
    )
    scored = (
        bg.join(F.broadcast(model), "w1", "left")
        .join(F.broadcast(vocab))
        .select(
            id_col,
            *carry_cols,
            "w1",
            F.when(
                F.col("w1").isNotNull(),
                F.log(
                    (
                        F.coalesce(
                            F.element_at("_m", F.col("w2")), F.lit(0)
                        )
                        + F.lit(alpha)
                    )
                    / (
                        F.coalesce(F.col("c1"), F.lit(0))
                        + F.lit(alpha) * F.col("_V")
                    )
                ),
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col, *carry_cols).agg(
        F.count("w1").cast("long").alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("avg_logp"),
        F.round(F.exp(-F.round(F.avg("_lp"), 6)), 4).alias("ppl"),
    )


def perplexity_filter(
    docs: DataFrame,
    ref: DataFrame,
    max_ppl: float,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents whose reference-model perplexity is at most
    ``max_ppl`` (scoreless short docs are dropped — no evidence either
    way, and CCNet buckets them separately)."""
    scores = perplexity_scores(docs, ref, alpha, text_col, id_col)
    keep = scores.where(F.col("ppl") <= max_ppl).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def ppl_buckets(
    docs: DataFrame,
    ref: DataFrame,
    k: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    group_col: str | None = "lang",
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.3): per ``group_col`` (per language in the paper), rank
    documents by reference-model perplexity ascending and cut the
    ranking into ``k`` equal tiles — ``head`` is the best-scoring
    (most reference-like) third. Returns one row per input doc:
    (id, group, n_bigrams, avg_logp, ppl, bucket); docs too short to
    score (NULL ppl) keep a NULL bucket, exactly as they carry no
    evidence either way.

    Shape: one per-group row_number + count window, the tile derived
    with pure integer arithmetic (ntile_col_expr) — bit-identical to
    the ntile window and engine-portable. Tie order (ppl, id) is
    total, so the bucketing is deterministic and replayable in the SQL
    oracle.
    """
    if len(labels) != k:
        raise ValueError(f"need exactly k={k} labels, got {len(labels)}")
    from my_weather_spark.ops import ranking

    gc = group_col or "_g"
    src = docs if group_col else docs.withColumn(gc, F.lit("ALL"))
    label_arr = F.array(*[F.lit(l) for l in labels])
    # the group column rides THROUGH the scoring pass (carry_cols), so
    # no second corpus scan + join back is needed
    scored = perplexity_scores(
        src, ref, alpha, text_col, id_col, carry_cols=(gc,)
    )
    # Single window pass, no checkpoint, no join back: NULL-ppl docs
    # sort LAST within their group (isNull() ascending), so scored docs
    # hold row numbers 1..m where m = count(ppl) over the group (count
    # ignores NULLs) — exactly the ranks the filtered ntile(k) would
    # assign — and ntile_col_expr turns (rank, m) into the identical
    # tile by integer arithmetic. NULL-ppl docs keep a NULL bucket via
    # the when().
    from pyspark.sql import Window as W

    w = W.partitionBy(gc).orderBy(F.col("ppl").isNull(), "ppl", id_col)
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("_m", F.count("ppl").over(W.partitionBy(gc)))
        .withColumn(
            "bucket",
            F.when(
                F.col("ppl").isNotNull(),
                F.element_at(
                    label_arr, ranking.ntile_col_expr("_rn", "_m", k)
                ),
            ),
        )
        .drop("_rn", "_m")
    )
    if group_col is None:
        out = out.drop(gc)
    return out


def ppl_bucket_filter(
    docs: DataFrame,
    ref: DataFrame,
    keep: tuple[str, ...] = ("head", "middle"),
    k: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    group_col: str | None = "lang",
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep only the documents whose CCNet perplexity bucket is in
    ``keep`` (the paper's deployment keeps head+middle and drops the
    far-from-reference tail). Scoreless docs (NULL bucket) are
    dropped, matching perplexity_filter's no-evidence rule."""
    unknown = set(keep) - set(labels)
    if unknown:
        raise ValueError(f"keep buckets not in labels: {sorted(unknown)}")
    b = ppl_buckets(docs, ref, k, labels, group_col, alpha, text_col, id_col)
    ids = b.where(F.col("bucket").isin(*keep)).select(id_col)
    return docs.join(ids, id_col, "left_semi")
