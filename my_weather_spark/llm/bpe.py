"""Distributed BPE vocabulary learning (Sennrich et al. 2016) over the
document corpus — the tokenizer-training step of a pre-training data
pipeline, hash-verified end to end.

Classic byte-pair encoding: split every word into characters plus an
end-of-word marker, then repeat T times: count adjacent symbol pairs
weighted by word frequency, merge the globally most frequent pair
(ties by pair text ascending) everywhere it occurs. The learned merge
list IS the tokenizer; token counts under it are the budget numbers a
data-mixing plan consumes.

What makes this oracle-replayable (the llm/clustering.py recipe —
iterative algorithms are verifiable when every step is exact):

- ALL algorithm state is integral/symbolic: pair counts are int64 sums
  of word frequencies (addition commutes, so Spark's reduce order
  cannot perturb the argmax), symbols are byte strings compared with
  binary collation in both engines, and the argmax tie-break is total
  (count DESC, left ASC, right ASC).
- Merge application is a LITERAL string replace over a wrapped symbol
  encoding: each symbol is stored as ``\\x1f<sym>\\x02`` inside one
  string per word, so replacing ``\\x1fL\\x02\\x1fR\\x02`` with
  ``\\x1fLR\\x02`` is exactly the left-to-right non-overlapping greedy
  merge of standard BPE ("aaaa" + merge (a,a) -> "aa","aa") — and
  Spark's ``replace`` and DuckDB's ``replace`` share those semantics
  bit for bit (verified; both scan left to right, never rescanning
  replaced output). Words containing the two wrapper bytes are
  filtered out deterministically on both sides (none exist in real
  text; the bytes are C0 controls).

Scale shape (100 TB corpus, V distinct words, T merges):
- ONE corpus-sized exchange total: the word-frequency aggregate
  (map-side combine collapses each partition to its local vocab).
  Everything after runs on the vocab frame — V rows, millions not
  terabytes — which is localCheckpointed per merge round so each
  round re-reads the compact (word, freq, wstr) form, not a T-deep
  replace plan.
- Per round: one narrow pair-explode + map-side-combined count over
  the vocab frame, ONE fused driver job collecting the top-K candidate
  pairs plus per-symbol neighbor maxima (bounded driver metadata, the
  kmeans centroid pattern; all branches reuse the pair exchange), one
  narrow replace batch. No join, no window, no shuffle of anything
  corpus-sized.
- ``token_counts`` re-tokenizes the corpus by joining exploded doc
  words to the learned per-word symbol counts: vocab side is small ->
  AQE broadcasts it at toy scale, shuffles both sides at true vocab
  scale; either way the corpus moves once.

Reference parity: the reference engine has no tokenizer tier; this
extends the LLM-curation surface (SURVEY.md LLM-ops section) next to
token_stats' ceil(chars/4) estimate with a real learned vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.llm.text import _words
from my_weather_spark.ops.timeseries import round6_portable
from my_weather_spark.session import local_frame

# Per-symbol wrappers: C0 control bytes that real text never carries
# (words containing them are filtered out on both engines). Wrapping
# each symbol individually — not separator-joining — is what makes a
# literal two-symbol replace non-overlapping-safe: the pattern
# \x1fL\x02\x1fR\x02 consumes only its own wrappers, so back-to-back
# occurrences ("aaaa") merge pairwise exactly like greedy BPE.
SEP_L = "\x1f"
SEP_R = "\x02"
END_MARK = "</w>"


def _clean_words(text_col: Column) -> Column:
    """House word split (text._words) minus wrapper-byte words —
    applied identically at vocab build and at tokenize time so the
    tokenize join never drops a word that missed the vocab."""
    return F.filter(
        _words(text_col),
        lambda w: ~w.contains(SEP_L) & ~w.contains(SEP_R),
    )


def _wrap_syms(syms: Column) -> Column:
    """array<string> -> one \\x1fs1\\x02\\x1fs2\\x02... string."""
    return F.concat(
        F.lit(SEP_L), F.concat_ws(SEP_R + SEP_L, syms), F.lit(SEP_R)
    )


def _unwrap_syms(wstr_col: str) -> Column:
    """Inverse of _wrap_syms: strip the outer wrappers, split on the
    inner \\x02\\x1f boundary (literal two-byte separator; neither
    byte is a regex metachar)."""
    return F.split(
        F.expr(f"substring({wstr_col}, 2, length({wstr_col}) - 2)"),
        SEP_R + SEP_L,
    )


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, wstr): the distinct-word frame BPE iterates on.
    wstr is the wrapped char-plus-END_MARK symbol sequence. The ONE
    corpus-sized exchange of the whole learn phase."""
    return (
        docs.select(
            F.explode(
                _clean_words(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn(
            "wstr",
            _wrap_syms(
                F.concat(F.split("word", ""), F.array(F.lit(END_MARK)))
            ),
        )
    )


# Candidate rows collected per learning round; the batch is a prefix
# of this ranked list, so K only caps the best case (observed batch
# max ~16 on a 22k-word corpus).
_BATCH_CANDIDATES = 64

# Rounds the last learn_bpe call took (introspection for tests and
# telemetry; one round = one fused candidates+stats driver job).
LAST_LEARN_ROUNDS = 0


def _select_batch(cands, right_max, left_max, boundary, limit):
    """The maximal PREFIX of the ranked candidate list that is provably
    the next len(batch) picks of sequential greedy BPE.

    Sequential greedy recounts after every merge; applying several
    top-ranked merges in one pass is exact only when no earlier merge
    in the batch can perturb the ranking a later one was selected
    under. The naive rule (accept while pairwise symbol-disjoint) is
    NOT exact: merging (a,b) creates new pairs (x,ab)/(ab,y) whose
    counts can exceed a later disjoint candidate's count, so greedy
    would pick the created pair first (observed on real text — first
    divergence at merge 23 on a 22k-word corpus). Sound rule, each
    candidate j > 0 accepted only if ALL hold:

    - symbols disjoint: lhs/rhs/merged not among any earlier batch
      member's {lhs, rhs, merged} (counts of disjoint pairs are
      invariant under the earlier merges, and no textual aliasing of
      created symbols can double-feed one pair key);
    - c_j > boundary (the K-th collected count): any uncollected pair
      has count <= boundary, so none can outrank the candidate;
    - c_j > g, where g = max over earlier accepted (a,b) of
      max(right_max[a], left_max[b]): a pair created by merging (a,b)
      is (x,ab), (ab,y) or (ab,ab); each occurrence maps 1:1 onto a
      round-start occurrence of (x,a), (b,y) or (b,a) respectively,
      so its count is bounded by the largest round-start pair count
      ending in a or starting in b;
    - the earlier merged strings have NO round-start presence as
      symbols (o-collision): if "ab" already existed as a symbol,
      created pairs land on top of existing (x,"ab") counts and the
      single-key bound above no longer caps the sum — stop the batch
      at such a merge (rare: requires two merge paths to the same
      string).

    A self-pair (a,a) ends the batch naturally: left_max[a] includes
    (a,a) itself, so g >= its own count blocks every later candidate.
    The first candidate is greedy's argmax by definition and is always
    accepted.
    """
    used: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    g = 0
    for j, (lhs, rhs, c) in enumerate(cands):
        if len(batch) >= limit:
            break
        merged = lhs + rhs
        if j > 0 and (
            lhs in used
            or rhs in used
            or merged in used
            or c <= boundary
            or c <= g
        ):
            break
        batch.append((lhs, rhs, c))
        used |= {lhs, rhs, merged}
        g = max(g, right_max.get(lhs, 0), left_max.get(rhs, 0))
        if max(left_max.get(merged, 0), right_max.get(merged, 0)) > 0:
            break
    return batch


def _pair_frame(words: DataFrame) -> DataFrame:
    """(lhs, rhs, pair_freq): adjacent-symbol pair counts over the
    vocab frame, weighted by word frequency — one narrow explode plus
    one map-side-combined aggregate per round."""
    syms = words.select("freq", _unwrap_syms("wstr").alias("s"))
    return (
        syms.filter(F.size("s") >= 2)
        .select(
            "freq",
            F.slice("s", F.lit(1), F.size("s") - 1).alias("la"),
            F.slice("s", F.lit(2), F.size("s") - 1).alias("ra"),
        )
        .select("freq", F.explode(F.arrays_zip("la", "ra")).alias("p"))
        .groupBy(F.col("p.la").alias("lhs"), F.col("p.ra").alias("rhs"))
        .agg(F.sum("freq").cast("long").alias("pair_freq"))
    )


def learn_bpe(
    docs: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn n_merges BPE merges; returns (merges, words) where merges
    is [(step, lhs, rhs, merged, pair_freq), ...] — bounded driver
    metadata, a few rows per round, the kmeans-centroid pattern — and
    words is the vocab frame with wstr rewritten through every merge.

    Merge rounds are BATCHED: each round collects the top-K candidate
    pairs plus their neighbor-count stats (ONE fused driver job — the
    candidate and stats branches share the pair-aggregate exchange via
    ReusedExchange) and applies the longest provably-greedy-equivalent
    prefix in one projection (see :func:`_select_batch` for the
    exactness proof).
    The merge list is bit-identical to one-merge-per-round greedy —
    pinned against the pure-Python replay in tests — while the round
    count drops with vocabulary richness: measured 1.5x on a 31-word
    toy corpus, 2.8x on 2.4k words, 4.5x on 22k words of real text.
    A production 32k-merge vocabulary over a web corpus (1e8+ distinct
    words, flatter pair distribution) lands in the thousands of
    rounds, not 32k sequential driver jobs; the lineage is truncated
    with a LAZY localCheckpoint per round so truncation piggybacks on
    the next round's job instead of costing its own.

    Stops early (fewer rows) if the vocabulary runs out of adjacent
    pairs before n_merges — callers that oracle-match against a fixed
    unrolled replay must pick n_merges small enough that this cannot
    trigger at any tested scale."""
    global LAST_LEARN_ROUNDS
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = word_vocab(docs, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        # ONE driver job per round: the ranked candidate prefix and the
        # per-symbol neighbor maxima (right_max[s] = max count of pairs
        # ending in s, left_max[s] = max count of pairs starting with
        # s) union into one collect. All three branches consume the
        # SAME pair-aggregate exchange, so Spark's ReusedExchange runs
        # the vocab explode + partial aggregate once and the extra
        # branches read only the shuffled pair frame (no persist, no
        # broadcast boundary to defeat the reuse — the q21 lesson).
        # The maxima are collected for EVERY symbol rather than just
        # the candidates' neighbors: symbol count is bounded by
        # alphabet + merges-so-far (~33k rows at a production 32k
        # vocabulary), still driver metadata, and it keeps the stats
        # branch independent of the candidate list so one action
        # suffices.
        pairs = _pair_frame(words)
        cand_rows = (
            pairs.orderBy(F.desc("pair_freq"), "lhs", "rhs")
            .limit(_BATCH_CANDIDATES)
            .select(
                F.lit("c").alias("kind"),
                F.col("lhs").alias("s1"),
                F.col("rhs").alias("s2"),
                F.col("pair_freq").alias("v"),
            )
        )

        def _max_rows(kind: str, key: str) -> DataFrame:
            return (
                pairs.groupBy(F.col(key).alias("s1"))
                .agg(F.max("pair_freq").alias("v"))
                .select(
                    F.lit(kind).alias("kind"),
                    "s1",
                    F.lit(None).cast("string").alias("s2"),
                    "v",
                )
            )

        # Driver-row tradeoff (ADVICE r7, accepted): the two max
        # branches cover EVERY symbol, not just the <=_BATCH_CANDIDATES
        # candidate-adjacent ones, so driver rows per round grow with
        # merges-so-far (~2 x vocab rows/round; ~66k at a 32k-merge
        # vocabulary — a few MB). That keeps the round at ONE Spark
        # job; if driver pressure ever shows at production merge
        # counts, filter both branches by the candidate symbol set
        # (still one unioned collect) at the cost of re-coupling the
        # stats to the candidate list.
        rows = (
            cand_rows.unionByName(_max_rows("r", "rhs"))
            .unionByName(_max_rows("l", "lhs"))
            .collect()
        )
        # union output order is not the branch's sort order; the
        # ranking is total, so re-sorting driver-side reproduces it.
        cands = sorted(
            ((r.s1, r.s2, r.v) for r in rows if r.kind == "c"),
            key=lambda c: (-c[2], c[0], c[1]),
        )
        if not cands:
            break
        right_max = {r.s1: r.v for r in rows if r.kind == "r"}
        left_max = {r.s1: r.v for r in rows if r.kind == "l"}
        boundary = (
            cands[-1][2] if len(cands) >= _BATCH_CANDIDATES else -1
        )
        batch = _select_batch(
            cands, right_max, left_max, boundary, n_merges - len(merges)
        )
        wcol = F.col("wstr")
        for lhs, rhs, c in batch:
            merges.append((len(merges) + 1, lhs, rhs, lhs + rhs, c))
            pat = SEP_L + lhs + SEP_R + SEP_L + rhs + SEP_R
            wcol = F.replace(
                wcol, F.lit(pat), F.lit(SEP_L + lhs + rhs + SEP_R)
            )
        words = words.withColumn("wstr", wcol).localCheckpoint(eager=False)
    LAST_LEARN_ROUNDS = rounds
    return merges, words


def merge_table(spark, merges) -> DataFrame:
    """learn_bpe's merge list as a DataFrame (step, lhs, rhs, merged,
    pair_freq) — T rows of driver metadata lifted back."""
    return local_frame(
        spark, merges, "step int, lhs string, rhs string, merged string, pair_freq long"
    )


def token_counts(
    docs: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_tokens, tokens_per_word): per-document token
    budget under the learned vocabulary. One corpus explode joined to
    the vocab's per-word symbol count (small side — AQE broadcasts it
    here, shuffles at true vocab scale); documents with no countable
    words carry no row (both engines drop them in the explode).

    PRECONDITION: ``docs`` must be (a subset of) the corpus ``words``
    was learned on. The join is inner, so a word absent from the
    vocab silently drops from both n_words and n_tokens — that is
    exact for the training corpus (every cleaned word is in the
    vocab by construction) but undercounts on out-of-vocab text, whose
    words would have to be tokenized by replaying the merge list in
    order instead of a vocab lookup."""
    n = words.select("word", F.size(_unwrap_syms("wstr")).alias("n_syms"))
    d = docs.select(
        id_col,
        F.explode(
            _clean_words(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("word"),
    )
    return (
        d.join(n, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            round6_portable(F.col("n_tokens") / F.col("n_words")),
        )
    )
