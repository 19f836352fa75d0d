"""Binary quality classifier over hashed n-gram features — the
published "curated-vs-crawl" filter stage: GPT-3 (Brown et al. 2020,
Appendix A) trains a logistic classifier with WebText/Wikipedia/books
as the positive class and raw Common Crawl as the negative and keeps
crawl documents the classifier scores high; LLaMA (Touvron et al.
2023) uses a fastText n-gram classifier the same way. This module is
the add-alpha Naive-Bayes form of that stage over the hashed
unigram+bigram bucket space shared with hashed_bow/DSIR — NB keeps
every number a count ratio, so the whole classifier (training AND
scoring) replays exactly in a SQL oracle, unlike SGD-trained weights.

Model: log_odds(doc) = ln(n_pos/n_neg)                       [prior]
                     + Σ_b [ln p_pos(b) - ln p_neg(b)]   [per feature]
with p_cls(b) = (c_cls(b) + alpha) / (total_cls + alpha*dim); the
per-feature term is DSIR's log-ratio with the raw class replaced by
the explicit negative class.

Scale shape (same as llm/dsir.py): the positive class is a boolean
Column over the corpus, so BOTH class distributions come out of ONE
feature scan (count_if per bucket) that collapses to a ONE-ROW dense
model broadcast-crossjoined back (scalar-subquery pattern); scoring
is a narrow in-row F.aggregate — the corpus never shuffles. The
per-doc float sum is unordered on both engines; reorder noise is
~1e-13 relative, far under the 6-dp output rounding (the dsir_selected
precedent), and the keep predicate compares the ROUNDED value so both
engines decide identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.llm.dsir import DEFAULT_DIM, _with_feature_buckets


def _featured(
    docs: DataFrame, pos: Column, dim: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, _is_p, _fb) — one tokenization pass over the corpus.
    nb_scores checkpoints this frame so the model aggregate and the
    scoring fold both read it instead of re-running the split+grams
    chain (tokenization is the dominant cost of the whole op). The
    corpus fans out first (llm/_util.fan_out): the split+md5 pass is
    CPU-heavy but byte-small, so a few-file input would otherwise run
    it near-serial (the r8 floor probe found dsir's identical scan on
    one task); no-op at production partition counts."""
    from my_weather_spark.llm._util import fan_out as _fan_out

    return _with_feature_buckets(_fan_out(docs), text_col, dim).select(
        F.col(id_col), pos.alias("_is_p"), "_fb"
    )


def _model_from_feats(feats: DataFrame, dim: int, alpha: float) -> DataFrame:
    """ONE-ROW frame with ``_lr`` (dense array<double>, _lr[b+1] =
    ln p_pos(b) - ln p_neg(b)) and ``_prior`` (ln(n_pos_docs /
    n_neg_docs)). Stays in-plan; broadcast-crossjoin onto the scoring
    side. An empty positive or negative class raises in-plan
    (assert_true) instead of silently NULL-scoring everything."""
    ex = feats.select(F.explode("_fb").alias("bucket"), "_is_p")
    sparse = ex.groupBy("bucket").agg(
        F.count_if(F.col("_is_p")).alias("pos_c"),
        F.count_if(~F.col("_is_p")).alias("neg_c"),
    )
    one = sparse.agg(
        F.sum("pos_c").alias("_pt"),
        F.sum("neg_c").alias("_nt"),
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("bucket"),
                    F.struct(F.col("pos_c"), F.col("neg_c")).alias("v"),
                )
            )
        ).alias("_m"),
    )
    # prior counts DOCUMENTS (featureless ones included) — feats has
    # one row per doc, so it derives from the same frame
    prior = feats.agg(
        F.count_if(F.col("_is_p")).alias("_np"),
        F.count_if(~F.col("_is_p")).alias("_nn"),
    )
    joined = one.join(F.broadcast(prior))

    def _nonzero(col_name: str, msg: str) -> Column:
        return F.when(F.col(col_name) > 0, F.col(col_name)).otherwise(
            F.assert_true(F.lit(False), F.lit(msg)).cast("bigint")
        )

    checked = joined.select(
        _nonzero("_pt", "nb: positive class has no features").alias("_pt"),
        _nonzero("_nt", "nb: negative class has no features").alias("_nt"),
        F.col("_m"),
        (
            F.log(
                _nonzero("_np", "nb: no positive documents")
                / _nonzero("_nn", "nb: no negative documents")
            )
        ).alias("_prior"),
    )
    a = F.lit(float(alpha))
    denom_p = F.col("_pt") + a * F.lit(dim)
    denom_n = F.col("_nt") + a * F.lit(dim)
    lr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: (
            F.log(
                (F.coalesce(F.try_element_at("_m", b)["pos_c"], F.lit(0)) + a)
                / denom_p
            )
            - F.log(
                (F.coalesce(F.try_element_at("_m", b)["neg_c"], F.lit(0)) + a)
                / denom_n
            )
        ),
    )
    return checked.select(lr.alias("_lr"), "_prior")


def nb_scores(
    docs: DataFrame,
    pos: Column,
    dim: int = DEFAULT_DIM,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_feats, log_odds, pred_hq) — NB log-odds per document
    (rounded 6) and the classifier's high-quality verdict
    (rounded log_odds > 0, so both engines decide identically).
    Featureless documents score exactly the prior — NB's no-evidence
    posterior. The corpus is tokenized ONCE: the feature frame is
    checkpointed and feeds both the model aggregate and the scoring
    fold."""
    feats = _featured(docs, pos, dim, text_col, id_col).localCheckpoint()
    model = _model_from_feats(feats, dim, alpha)
    scored = feats.select(id_col, "_fb").join(F.broadcast(model))
    log_odds = F.round(
        F.col("_prior")
        + F.aggregate(
            "_fb",
            F.lit(0.0),
            lambda acc, b: acc + F.element_at("_lr", (b + 1).cast("int")),
        ),
        6,
    )
    return scored.select(
        F.col(id_col),
        F.size("_fb").cast("long").alias("n_feats"),
        log_odds.alias("log_odds"),
        (log_odds > F.lit(0.0)).alias("pred_hq"),
    )


def nb_filter(
    docs: DataFrame,
    pos: Column,
    min_log_odds: float = 0.0,
    dim: int = DEFAULT_DIM,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents the classifier scores above ``min_log_odds``
    (the GPT-3/LLaMA deployment: train curated-vs-crawl, keep what
    looks curated). Compares the rounded score — engine-portable."""
    scores = nb_scores(docs, pos, dim, alpha, text_col, id_col)
    keep = scores.where(F.col("log_odds") > F.lit(float(min_log_odds))).select(
        id_col
    )
    return docs.join(keep, id_col, "left_semi")
