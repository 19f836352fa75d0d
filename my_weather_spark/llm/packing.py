"""Sequence packing: assign documents to fixed-capacity context
chunks for pretraining batch construction.

Two packing shapes:

- :func:`pack_chunks` — concat-and-chunk (the GPT-pretraining shape):
  within each pack group, documents are laid out back-to-back in a
  deterministic order and cut into ``capacity``-token chunks; a
  document may straddle a chunk boundary. Expressible as one window
  cumsum — no sequential driver loop, no UDF.
- :func:`pack_bins` — NO-SPLIT bin packing (the SFT / cross-doc-
  attention-averse shape): each document lands whole in exactly one
  bin of ``capacity`` tokens. Classic bin-packing heuristics
  (first-fit-decreasing) carry sequential bin state and cannot
  distribute; this is the HARMONIC size-class algorithm (Lee & Lee,
  JACM 1985): a document of t tokens has size class
  k = floor(capacity / t), and exactly k class-k documents fit per
  bin — so bin assignment is pure row_number arithmetic per
  (group, class), embarrassingly parallel and SQL-replayable. Every
  full class-k bin is > capacity * k/(k+1) utilized (>= 50% for
  k = 1, approaching 100% as documents shrink); only the last bin
  per (group, class) can be emptier.

Scale shape: the window partitions by ``group_col`` (a corpus shard /
source), so the only exchange is the hash partition on the group key
and each group packs independently — embarrassingly parallel across
1000 executors. A global pack order would serialize into one
partition; that is deliberately not offered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def pack_chunks(
    df: DataFrame,
    capacity: int,
    token_col: str | None = None,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, group, n_tokens, chunk_start, chunk_end, offset_in_chunk).

    ``chunk_start``/``chunk_end`` are the first/last chunk indices the
    document's tokens land in (inclusive; equal unless the doc
    straddles a boundary); ``offset_in_chunk`` is the token offset of
    the document's first token within ``chunk_start``. Chunk indices
    are per group. Token counts default to the ceil(chars/4) BPE-ish
    estimate used by :func:`my_weather_spark.llm.text.token_stats`.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if token_col is None:
        tokens = F.ceil(F.length(F.col(text_col)) / 4).cast("long")
    else:
        tokens = F.col(token_col).cast("long")
    w = (
        W.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(tokens).over(w)
    before = cum - tokens
    return df.select(
        F.col(id_col),
        F.col(group_col),
        tokens.alias("n_tokens"),
        F.floor(before / capacity).alias("chunk_start"),
        F.floor(
            F.when(tokens > 0, (cum - 1) / capacity).otherwise(before / capacity)
        ).alias("chunk_end"),
        (before % capacity).alias("offset_in_chunk"),
    )


def pack_bins(
    df: DataFrame,
    capacity: int,
    token_col: str | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, group, n_tokens, size_class, bin_in_class): whole-document
    bin packing into ``capacity``-token bins — harmonic size classes
    (see module docstring for the algorithm and its waste bound).

    A bin is identified by (group, size_class, bin_in_class); a
    class-k bin holds exactly k documents (the last bin per class may
    hold fewer). Documents LARGER than capacity get size_class 0 and a
    singleton bin each — flagged, not dropped, so the caller decides
    whether to truncate or fall back to :func:`pack_chunks` for them.
    Zero/negative token counts are clamped to 1 for classing (a doc
    occupies at least one slot); ``n_tokens`` reports the raw count.
    NULL counts (NULL ``text_col`` under the chars/4 estimate, or a
    NULL ``token_col`` value) are coalesced to 0 first, so they take
    the documented zero path (one slot, ``n_tokens`` = 0) instead of
    propagating NULL through the classing arithmetic.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if token_col is None:
        tokens = F.ceil(F.length(F.col(text_col)) / 4).cast("long")
    else:
        tokens = F.col(token_col).cast("long")
    # NULL -> 0 BEFORE the clamp: greatest() skips NULLs, so a NULL
    # count would otherwise class like a 1-token doc while reporting
    # n_tokens NULL (ADVICE r7); coalescing makes NULL identical to
    # the documented zero case.
    tokens = F.coalesce(tokens, F.lit(0))
    eff = F.greatest(tokens, F.lit(1))
    size_class = (
        F.when(eff > capacity, F.lit(0))
        .otherwise(F.floor(F.lit(capacity) / eff))
        .cast("long")
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        tokens.alias("n_tokens"),
        size_class.alias("size_class"),
    )
    w = W.partitionBy(group_col, "size_class").orderBy(id_col)
    ranked = base.withColumn("_rn", F.row_number().over(w))
    rn = F.col("_rn").cast("long")
    return ranked.select(
        id_col,
        group_col,
        "n_tokens",
        "size_class",
        F.when(F.col("size_class") == 0, rn - 1)
        .otherwise(F.floor((rn - 1) / F.col("size_class")))
        .cast("long")
        .alias("bin_in_class"),
    )
