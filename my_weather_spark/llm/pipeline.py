"""Composed training-data cleaning pipeline.

The standard large-corpus preparation flow, assembled from the engine's
operators exactly the way a 100 TB run would chain them:

    [line-level boilerplate removal (optional)]
        -> quality filter -> exact dedup
        -> [exact duplicate-span drop (optional)]
        -> MinHash-LSH candidates (one bucket self-join)
        -> Jaccard verify
        -> connected components over the verified pairs (large/small
           star rounds); every component keeps its smallest id
        -> [semantic dedup over doc embeddings (optional, SemDeDup)]
        -> attach analysis columns (tokens, language, fingerprint)

Every stage is a DataFrame transformation. Each report count comes
from the job that checkpoints its stage (``session.checkpoint``), so
no count re-runs the chain above it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.llm import (
    classifier,
    decontam,
    dedup,
    dsir as dsir_ops,
    lm,
    packing,
    sampling,
    similarity,
    text as text_ops,
)
from my_weather_spark.session import checkpoint


@dataclass
class CleanReport:
    n_input: int
    n_after_quality: int
    n_after_exact: int
    n_after_near: int
    n_near_dup_pairs: int
    # None when the optional span-dedup stage is off
    n_after_span: int | None = None
    # None when the optional semantic-dedup stage is off
    n_after_semdedup: int | None = None


def clean_corpus(
    docs: DataFrame,
    min_words: int = 10,
    max_punct_ratio: float = 0.3,
    gopher_rules: dict | None = None,
    jaccard_threshold: float = 0.85,
    num_hashes: int = 16,
    band_size: int = 4,
    line_dedup_min_df: int | None = None,
    span_dedup_max_ratio: float | None = None,
    span_dedup_n: int = 20,
    embeddings: DataFrame | None = None,
    semdedup_threshold: float | None = None,
    semdedup_clusters: int = 16,
    embedding_id_col: str = "vec_id",
    embedding_vec_col: str = "embedding",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, CleanReport]:
    """Returns (clean docs, stage-count report).

    Near-dup removal keeps the smallest id of each verified pair and
    drops the larger — deterministic survivor choice, same rule as
    exact dedup, so re-runs are idempotent.

    Each report count comes from the job that checkpoints its stage
    (``session.checkpoint``), so nothing upstream ever executes twice.
    """
    n_input = docs.count()

    # 0. optional line-level boilerplate removal (RefinedWeb order:
    # strip cross-document template lines BEFORE any document-level
    # signal is computed, so nav bars/footers can't mask real content
    # in quality ratios or poison shingle sets)
    if line_dedup_min_df is not None:
        cleaned = text_ops.remove_boilerplate_lines(
            docs, min_doc_frequency=line_dedup_min_df,
            text_col=text_col, id_col=id_col,
        ).select(id_col, text_col)
        docs = docs.drop(text_col).join(cleaned, id_col)

    # 1. quality gate (cheap, narrow — run first to shrink everything).
    # gopher_rules switches the gate to the published Gopher bundle
    # (Rae et al. 2021; pass {} for the paper's defaults, or rule
    # overrides like {"min_words": 40}); otherwise the basic
    # words/punct predicate applies. Both are one filter pass.
    if gopher_rules is not None:
        q = text_ops.gopher_filter(
            docs, text_col=text_col, id_col=id_col, **gopher_rules
        )
    else:
        q = text_ops.quality_filter(
            docs, min_words=min_words, max_punct_ratio=max_punct_ratio,
            text_col=text_col, id_col=id_col,
        )
    q, n_quality, _ = checkpoint(q)

    # 2. exact dedup (hash groupBy)
    exact, n_exact, _ = checkpoint(dedup.drop_exact_duplicates(q, text_col, id_col))

    # 2b. optional exact duplicate-span drop (Lee et al. style): runs
    # AFTER exact dedup (identical docs would trivially duplicate
    # every span) and BEFORE LSH (shrinks the expensive stage's input;
    # heavy span-sharers are usually the near-dups anyway)
    n_span = None
    if span_dedup_max_ratio is not None:
        exact, n_span, _ = checkpoint(dedup.drop_span_duplicates(
            exact, n=span_dedup_n, max_dup_ratio=span_dedup_max_ratio,
            text_col=text_col, id_col=id_col,
        ))

    # 3. LSH candidates -> exact Jaccard scored ON THE CANDIDATES ONLY
    # (never the quadratic word-level self-join over the full corpus)
    cand = dedup.minhash_lsh_pairs(
        exact, num_hashes=num_hashes, band_size=band_size,
        text_col=text_col, id_col=id_col,
    )
    verified, n_pairs, _ = checkpoint(dedup.jaccard_for_candidates(
        exact, cand, min_jaccard=jaccard_threshold,
        text_col=text_col, id_col=id_col,
    ))

    # 4. drop near-dups: cluster the verified-pair graph (connected
    # components, so A-B-C chains collapse even without an A-C pair)
    # and keep only each component's smallest id.
    # large/small-star: O(log n) rounds, so a pathological long-chain
    # component can't turn the cleanup into 60 full-edge shuffles
    components = dedup.connected_components_star(
        verified, a_col="doc_a", b_col="doc_b"
    )
    losers = components.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    survivors, n_near, _ = checkpoint(exact.join(losers, id_col, "left_anti"))

    # 4b. optional semantic dedup (SemDeDup): embedding-space near-dups
    # the lexical stages can't see. Runs LAST of the dedup stages over
    # the embeddings of the SURVIVING docs only (so a drop decision is
    # never justified by a doc that earlier stages already removed).
    # ``embeddings`` must share the document id space (one vector per
    # doc, ``embedding_id_col`` == the doc's ``id_col`` value); docs
    # without an embedding pass through — no vector, no dedup signal.
    n_semdedup = None
    if semdedup_threshold is not None and embeddings is None:
        raise ValueError("semdedup_threshold requires embeddings")
    if embeddings is not None and semdedup_threshold is not None:
        live = embeddings.join(
            survivors.select(F.col(id_col).alias(embedding_id_col)),
            embedding_id_col,
            "left_semi",
        )
        flags = similarity.semantic_dedup(
            live, n_clusters=semdedup_clusters, threshold=semdedup_threshold,
            id_col=embedding_id_col, vec_col=embedding_vec_col,
        )
        sem_losers = flags.where(~F.col("kept")).select(
            F.col(embedding_id_col).alias(id_col)
        )
        survivors, n_semdedup, _ = checkpoint(
            survivors.join(sem_losers, id_col, "left_anti")
        )

    # 5. analysis columns for the surviving corpus: one projection, so
    # a consumer that reads the result twice (decontam) scans the
    # survivors checkpoint once per read, with no join-backs
    out = text_ops._with_analysis_columns(survivors, text_col)
    return out, CleanReport(
        n_input, n_quality, n_exact, n_near, n_pairs, n_span, n_semdedup
    )


@dataclass
class CurateReport:
    clean: CleanReport
    n_after_decontam: int
    n_after_mixing: int
    n_train: int
    n_val: int
    n_test: int
    n_chunks: int
    # None when the optional LM-perplexity stage is off
    n_after_ppl: int | None = None
    # None when the optional NB quality-classifier stage is off
    n_after_nb: int | None = None
    # None when the optional BM25 topic-relevance stage is off
    n_after_bm25: int | None = None
    # None when the optional DSIR importance-resampling stage is off
    n_after_dsir: int | None = None
    # None when packing uses the chars/4 estimate; otherwise the
    # number of BPE merges actually learned (may be fewer than asked
    # if the vocabulary ran out of adjacent pairs)
    bpe_merges_learned: int | None = None


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    mixing_rates: dict[str, float] | None = None,
    mix_temperature_total: int | None = None,
    mix_temperature_alpha: float = 0.5,
    default_rate: float = 1.0,
    split_weights: tuple[float, ...] = (0.98, 0.01, 0.01),
    chunk_capacity: int = 2048,
    decontam_ngram: int = 5,
    quality_ref: DataFrame | None = None,
    max_ppl: float | None = None,
    ppl_keep_buckets: tuple[str, ...] | None = None,
    ppl_bucket_group: str | None = "lang",
    ppl_alpha: float = 0.5,
    nb_pos: Column | None = None,
    nb_min_log_odds: float = 0.0,
    relevance_query: list[str] | None = None,
    min_bm25: float | None = None,
    dsir_target: DataFrame | Column | None = None,
    dsir_k: int | None = None,
    dsir_dim: int = dsir_ops.DEFAULT_DIM,
    dsir_alpha: float = 0.5,
    bpe_tokenizer_merges: int | None = None,
    packing_mode: str = "chunks",
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "curate",
    **clean_kwargs,
) -> tuple[DataFrame, CurateReport]:
    """The full pretraining-data preparation flow, clean through packed:

        clean_corpus (quality -> exact dedup -> LSH near-dup)
          -> benchmark decontamination (broadcast n-gram anti-join)
          -> [LM quality gate vs quality_ref (optional): absolute
              max_ppl threshold OR CCNet head/middle/tail buckets]
          -> [NB curated-vs-crawl classifier gate vs nb_pos (optional)]
          -> [BM25 topic-relevance gate vs relevance_query (optional)]
          -> [DSIR importance resample to dsir_k vs dsir_target (optional)]
          -> data mixing (per-source deterministic hash rates, or
             temperature-scaled rates ∝ n^alpha via mix_temperature_total)
          -> train/val/test split assignment (hash buckets)
          -> sequence packing of the train split (packing_mode
             "chunks": concat-and-chunk, docs may straddle a boundary;
             "bins": whole-document harmonic bin packing, no doc ever
             splits — the SFT shape; budgeted by a BPE tokenizer
             LEARNED on the curated survivors when
             bpe_tokenizer_merges is set, else by the chars/4
             estimate)

    Returns (packed-and-labeled corpus, stage-count report). The output
    carries every doc that survives curation with its split label and —
    for train docs — pack coordinates (chunk_start/chunk_end/
    offset_in_chunk for "chunks", size_class/bin_in_class for "bins";
    null for val/test, which are served unpacked).

    Stage order is the one a 100 TB run wants: each stage shrinks the
    corpus before the next touches it, the benchmark side broadcasts,
    and mixing/splits are narrow in-row filters. Deterministic
    end-to-end: same input, seeds, and rates -> byte-identical output.
    """
    if packing_mode not in ("chunks", "bins"):
        raise ValueError(
            f"packing_mode must be 'chunks' or 'bins', got {packing_mode!r}"
        )
    clean, clean_report = clean_corpus(
        docs, text_col=text_col, id_col=id_col, **clean_kwargs
    )
    # Each stage below is checkpointed by the job that counts it
    # (clean_corpus's survivors are already materialized), so no later
    # action — the caller's consumption of `out` included — re-runs an
    # earlier stage.
    if benchmark is not None:
        clean = decontam.decontaminate(
            clean, benchmark, n=decontam_ngram, text_col=text_col, id_col=id_col
        )
    clean, n_decontam, _ = checkpoint(clean)

    # optional CCNet-style LM quality gate: score against the quality
    # reference's bigram model AFTER dedup/decontam (scores the text
    # that will actually train) and BEFORE mixing (so rates apply to
    # the quality-passing pool). quality_ref is a curated reference
    # corpus (e.g. wiki-like), NOT the eval benchmark.
    n_ppl = None
    if max_ppl is not None and ppl_keep_buckets is not None:
        raise ValueError(
            "max_ppl and ppl_keep_buckets are mutually exclusive"
        )
    if max_ppl is not None or ppl_keep_buckets is not None:
        if quality_ref is None:
            raise ValueError("the LM quality gate requires quality_ref")
        if max_ppl is not None:
            clean = lm.perplexity_filter(
                clean, quality_ref, max_ppl=max_ppl, alpha=ppl_alpha,
                text_col=text_col, id_col=id_col,
            )
        else:
            # CCNet's deployment form: per-group head/middle/tail
            # tiles instead of an absolute threshold
            clean = lm.ppl_bucket_filter(
                clean, quality_ref, keep=ppl_keep_buckets,
                group_col=ppl_bucket_group, alpha=ppl_alpha,
                text_col=text_col, id_col=id_col,
            )
        clean, n_ppl, _ = checkpoint(clean)

    # optional curated-vs-crawl NB classifier gate (GPT-3 App. A /
    # LLaMA fastText deployment): nb_pos marks the curated positive
    # class; keep docs whose rounded log-odds clear nb_min_log_odds.
    # Same placement rationale as the ppl gate — a quality gate after
    # dedup/decontam, before mixing.
    n_nb = None
    if nb_pos is not None:
        clean, n_nb, _ = checkpoint(classifier.nb_filter(
            clean, nb_pos, min_log_odds=nb_min_log_odds,
            text_col=text_col, id_col=id_col,
        ))

    # optional BM25 topic-relevance gate (targeted-corpus curation:
    # keep documents that score against a topic seed query). Runs with
    # the same placement rationale as the ppl gate: after dedup/
    # decontam, before mixing. The scoring pass is narrow (in-row tfs
    # + one broadcast 1-row stats join), so the gate adds no shuffle.
    n_bm25 = None
    if min_bm25 is not None:
        if not relevance_query:
            raise ValueError("min_bm25 requires relevance_query")
        scores = text_ops.bm25_scores(
            clean, relevance_query, text_col=text_col, id_col=id_col
        )
        keep = scores.where(F.col("score") >= min_bm25).select(id_col)
        clean, n_bm25, _ = checkpoint(clean.join(keep, id_col, "left_semi"))

    # optional DSIR importance resampling (Xie et al. 2023): shrink the
    # surviving pool to the dsir_k documents whose hashed-n-gram bag
    # best matches dsir_target, Gumbel-top-k with deterministic
    # hash-ticket noise. Placement: LAST gate before mixing — DSIR is
    # the paper's "select from the cleaned raw pool" step, and mixing
    # rates should apply to the selected corpus. The model is a 1-row
    # broadcast; scoring is narrow; selection is a bounded top-k.
    n_dsir = None
    if dsir_k is not None:
        if dsir_target is None:
            raise ValueError("dsir_k requires dsir_target")
        clean, n_dsir, _ = checkpoint(dsir_ops.resample(
            clean, dsir_target, k=dsir_k, seed=seed + ":dsir",
            dim=dsir_dim, alpha=dsir_alpha, text_col=text_col, id_col=id_col,
        ))

    if mixing_rates and mix_temperature_total is not None:
        raise ValueError(
            "mixing_rates and mix_temperature_total are mutually exclusive"
        )
    if mixing_rates:
        clean = sampling.stratified_sample(
            clean, mixing_rates, strata_col=strata_col,
            default_rate=default_rate, seed=seed, id_col=id_col,
        )
    elif mix_temperature_total is not None:
        # temperature mixing (mT5-style): per-stratum rates ∝ n^alpha
        # derived from the SURVIVING pool's counts — no hand-tuned map
        clean = sampling.temperature_sample(
            clean, mix_temperature_total, alpha=mix_temperature_alpha,
            strata_col=strata_col, seed=seed, id_col=id_col,
        )

    labels = ("train", "val", "test")[: len(split_weights)]
    labeled, n_mixed, split_counts = checkpoint(
        sampling.split_assign(
            clean, weights=split_weights, labels=labels, seed=seed, id_col=id_col
        ),
        **{lab: F.count_if(F.col("split") == lab) for lab in labels},
    )

    train = labeled.where(F.col("split") == "train")
    # Optional learned-tokenizer budgeting: train a BPE vocabulary on
    # the curated survivors (the corpus the model will actually see)
    # and pack by REAL token counts instead of the chars/4 estimate.
    # Docs with no countable words fall back to the estimate.
    pack_token_col = "n_tokens_est"
    n_bpe_merges = None
    if bpe_tokenizer_merges is not None:
        from my_weather_spark.llm import bpe as bpe_ops

        bpe_merges, bpe_words = bpe_ops.learn_bpe(
            clean, n_merges=bpe_tokenizer_merges, text_col=text_col
        )
        n_bpe_merges = len(bpe_merges)
        # tokenize only the train split — the vocabulary LEARNS on all
        # curated survivors, but val/test are served unpacked, so
        # counting their tokens here would be a wasted corpus fraction
        bt = bpe_ops.token_counts(
            train, bpe_words, text_col=text_col, id_col=id_col
        ).select(id_col, F.col("n_tokens").alias("_bpe_n_tokens"))
        train = train.join(bt, id_col, "left").withColumn(
            "_pack_tokens",
            F.coalesce("_bpe_n_tokens", F.col("n_tokens_est")),
        )
        pack_token_col = "_pack_tokens"
    if packing_mode == "chunks":
        packed = packing.pack_chunks(
            train, capacity=chunk_capacity, token_col=pack_token_col,
            group_col=strata_col, text_col=text_col, id_col=id_col,
        ).select(id_col, strata_col, "chunk_start", "chunk_end", "offset_in_chunk")
        # chunk ids are per pack group: total = sum over groups of max+1
        per_group = packed.groupBy(strata_col).agg(
            (F.max("chunk_end") + 1).alias("n")
        )
    elif packing_mode == "bins":
        packed = packing.pack_bins(
            train, capacity=chunk_capacity, token_col=pack_token_col,
            group_col=strata_col, text_col=text_col, id_col=id_col,
        ).select(id_col, strata_col, "size_class", "bin_in_class")
        # bins are identified per (group, class): total = distinct count
        per_group = packed.groupBy(strata_col).agg(
            F.count_distinct("size_class", "bin_in_class").alias("n")
        )
    out = labeled.join(
        packed.drop(strata_col), id_col, "left"
    )
    n_chunks = per_group.agg(F.sum("n").alias("n")).collect()[0]["n"] or 0

    report = CurateReport(
        clean=clean_report,
        n_after_decontam=n_decontam,
        n_after_mixing=n_mixed,
        n_train=split_counts.get("train", 0),
        n_val=split_counts.get("val", 0),
        n_test=split_counts.get("test", 0),
        n_chunks=int(n_chunks),
        n_after_ppl=n_ppl,
        n_after_nb=n_nb,
        n_after_bm25=n_bm25,
        n_after_dsir=n_dsir,
        bpe_merges_learned=n_bpe_merges,
    )
    return out, report
