"""Text analysis operators: quality scoring, language ID, token
counting, document fingerprinting.

All pure column expressions (JVM-side); counts are exact integers and
ratios are rounded — engine-portable for cross-checking against a SQL
oracle. Designed to run as one narrow projection pass over a 100 TB
documents table (no shuffle except the explicit groupBys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from my_weather_spark.llm._util import fan_out as _fan_out
from my_weather_spark.ops.timeseries import round6_portable

# Stopword marker sets for the n-gram/stopword-hit language heuristic.
# Tiny on purpose: the heuristic is argmax of marker-hit counts.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un"],
    "it": ["il", "di", "che", "la", "per", "un", "sono", "con"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "are", "was"]


def _words(text_col: Column) -> Column:
    return F.filter(F.split(text_col, r"\s+"), lambda w: w != "")


# ----------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish estimate.
def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_chars, n_words, n_tokens_est, avg_word_len).

    n_tokens_est is the ceil(chars/4) BPE-ish heuristic; avg word
    length rounds to 6."""
    return df.select(id_col, *_aliased(_token_stat_cols(text_col)))


def _token_stat_cols(text_col: str) -> dict[str, Column]:
    t = F.col(text_col)
    w = _words(t)
    return {
        "n_chars": F.length(t),
        "n_words": F.size(w),
        "n_tokens_est": F.ceil(F.length(t) / 4).cast("long"),
        "avg_word_len": round6_portable(
            F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.size(w)
        ),
    }


def _aliased(cols: dict[str, Column]) -> list[Column]:
    return [c.alias(name) for name, c in cols.items()]


# ----------------------------------------------------------------------
# Quality scoring: length/punctuation/stopword/digit ratios.
def quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    t = F.col(text_col)
    w = _words(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return df.select(
        id_col,
        F.length(t).alias("n_chars"),
        F.size(w).alias("n_words"),
        round6_portable(n_stop / F.size(w)).alias("stopword_ratio"),
        round6_portable(n_punct / F.length(t)).alias("punct_ratio"),
        round6_portable(n_digit / F.length(t)).alias("digit_ratio"),
    )


def quality_keep_predicate(
    text_col: str = "text",
    min_words: int = 10,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.0,
):
    """The Gopher-rules keep predicate as ONE boolean Column — the
    single source of truth for both the batch filter and the streaming
    front filter (a stream cannot semi-join against a derived frame, so
    it needs the inlined expression; sharing it here keeps the two
    paths from drifting)."""
    t = F.col(text_col)
    w = _words(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    keep = (F.size(w) >= min_words) & ((n_punct / F.length(t)) <= max_punct_ratio)
    if min_stopword_ratio > 0.0:
        stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
        n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
        keep = keep & ((n_stop / F.size(w)) >= min_stopword_ratio)
    return keep


def quality_filter(
    df: DataFrame,
    min_words: int = 10,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep/drop filter over the shared quality predicate — a narrow
    in-row where(), no join, no shuffle."""
    return df.where(
        quality_keep_predicate(
            text_col, min_words, max_punct_ratio, min_stopword_ratio
        )
    )


# ----------------------------------------------------------------------
# Language ID: argmax of marker-word hit counts (n-gram heuristic).
def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, predicted_lang, lang_score). Deterministic tie-break:
    lexicographically smallest language code among maxima."""
    return df.select(id_col, *_aliased(_language_cols(text_col)))


def _language_cols(text_col: str) -> dict[str, Column]:
    t = F.lower(F.col(text_col))
    w = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(w, lambda x: F.array_contains(markers, x)))
        scores.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang"), hits.alias("hits")))
    best = F.array_min(F.array(*scores))
    return {"predicted_lang": best["lang"], "lang_score": best["hits"]}


# ----------------------------------------------------------------------
# Document fingerprinting: min-k of rolling character-shingle hashes
# (winnowing-lite). Engine-portable md5 shingle hashes.
def fingerprint(
    df: DataFrame,
    shingle_len: int = 8,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, fingerprint): concat of the k smallest md5(shingle) hex
    values over all rolling ``shingle_len``-char shingles."""
    # Shuffle-free: the rolling-shingle hash set is built in-row with
    # array HOFs (one narrow map pass; no explode->groupBy). The text
    # is split into a BOUND char array first and shingles are sliced
    # from it: substring(text, p, len) with a column-valued position is
    # O(p) per call (UTF8String walks from the start to find the char
    # boundary), which made the rolling pass quadratic in document
    # length — measured 60x per 10x doc-length step before the change
    # (scripts/scale_probe_doclen.py); array slice is offset-indexed,
    # O(shingle_len). Same shingle strings, so the SQL oracle
    # (char-based substr) is unchanged.
    b = _fan_out(df).select(
        F.col(id_col), F.split(F.col(text_col), "").alias(_CHARS_COL)
    )
    return b.select(id_col, _fingerprint_col(shingle_len, k).alias("fingerprint"))


_CHARS_COL = "_ch"


def _fingerprint_col(shingle_len: int, k: int) -> Column:
    """The fingerprint over the char array bound as ``_CHARS_COL``."""
    ch = F.col(_CHARS_COL)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ch) - (shingle_len - 1), F.lit(1))),
        lambda p: F.md5(F.concat_ws("", F.slice(ch, p, shingle_len))),
    )
    return F.array_join(F.slice(F.array_sort(F.array_distinct(hashes)), 1, k), ",")


def _with_analysis_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` plus the columns of :func:`token_stats`,
    :func:`language_id` and :func:`fingerprint` (defaults), built in one
    projection over ``df`` instead of three frames joined back on the
    id. A column of ``df`` with one of those names is replaced."""
    bound = _fan_out(df).withColumn(_CHARS_COL, F.split(F.col(text_col), ""))
    return bound.withColumns(
        {
            **_token_stat_cols(text_col),
            **_language_cols(text_col),
            "fingerprint": _fingerprint_col(8, 4),
        }
    ).drop(_CHARS_COL)


# ----------------------------------------------------------------------
# Repetition signals: the Gopher-rules repetition family (duplicate
# word ratio, most-frequent-bigram fraction). Boilerplate and
# template-generated text score high on these even when length and
# stopword ratios look fine.
def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_words, dup_word_ratio, top_bigram_ratio).

    dup_word_ratio = 1 - distinct/total words; top_bigram_ratio =
    occurrences of the most frequent word bigram / total bigrams.
    Entirely in-row (array HOFs over the word array — one narrow map
    pass, no explode/shuffle): the top-bigram count sorts the bigram
    array once (native JVM sort) and run-length-scans it in ONE
    ``aggregate`` pass — O(n log n) per doc, so a 100k-token document
    costs ~2M comparisons, not the ~10^9 of the naive
    distinct x total counting loop (a straggler-maker at corpus
    scale).
    """
    # Bind the derived arrays to columns BEFORE the nested HOFs: a
    # lambda that references a derived expression re-evaluates it per
    # element (O(words) splits per bigram); referencing a bound column
    # reads the materialized array.
    w_df = df.select(F.col(id_col), _words(F.col(text_col)).alias("_w"))
    bigrams_raw = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda p: F.concat(
            F.element_at("_w", p), F.lit(" "), F.element_at("_w", p + 1)
        ),
    )
    # sequence(1, k) descends for k < 1 — a doc under 2 words has no bigrams
    b_df = w_df.select(
        id_col,
        "_w",
        F.when(F.size("_w") >= 2, bigrams_raw)
        .otherwise(F.array().cast("array<string>"))
        .alias("_bg"),
    )
    n = F.size("_w")
    n_distinct = F.size(F.array_distinct("_w"))
    # Max run length over the SORTED bigram array == count of the most
    # frequent bigram (equal bigrams are adjacent after sorting).
    # Bigrams are never "" (words are non-empty), so "" is a safe
    # below-any-run sentinel for prev.
    is_run = lambda acc, x: x == acc["prev"]  # noqa: E731
    top_count = F.aggregate(
        F.array_sort("_bg"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(is_run(acc, x), acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(is_run(acc, x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return b_df.select(
        id_col,
        n.alias("n_words"),
        round6_portable(
            F.when(n > 0, 1 - n_distinct / n).otherwise(F.lit(0.0))
        ).alias("dup_word_ratio"),
        round6_portable(
            F.when(F.size("_bg") > 0, top_count / F.size("_bg")).otherwise(
                F.lit(0.0)
            )
        ).alias("top_bigram_ratio"),
    )


# ----------------------------------------------------------------------
# Line-level boilerplate dedup (RefinedWeb / CCNet style): drop lines
# whose normalized form recurs across many documents — nav bars,
# cookie banners, footers — which document-level near-dup never
# catches (every page is "unique", every page carries the banner).
def remove_boilerplate_lines(
    df: DataFrame,
    min_doc_frequency: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """(id, text [cleaned], n_lines, n_lines_kept).

    A line is boilerplate iff its TRIMMED form occurs in at least
    ``min_doc_frequency`` distinct documents; such lines are removed
    everywhere and the survivors are rejoined in original order.
    Blank lines are never counted or removed (they carry layout, not
    boilerplate, and would otherwise always cross the threshold).

    Scale shape: two corpus passes total. Pass 1 builds the frequency
    table — one distinct + count over (line, doc), the only
    corpus-wide shuffle, map-side combined. Pass 2 left-joins the
    exploded lines against only the ABOVE-THRESHOLD lines (tiny by
    construction — genuine boilerplate — so AQE turns it into a
    broadcast at runtime) and computes totals, kept counts, and the
    reassembled text in ONE document-key aggregation: keeping all
    lines through the flagging join means docs whose every line was
    boilerplate stay as empty rows instead of silently vanishing, and
    no separate totals scan or re-join is needed. Never materializes
    all-pairs anything.
    """
    if min_doc_frequency < 2:
        raise ValueError("min_doc_frequency must be >= 2")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("line_no", "line"),
    )
    norm = F.trim(F.col("line"))
    boiler = (
        lines.where(norm != "")
        .select(norm.alias("_nline"), id_col)
        .distinct()
        .groupBy("_nline")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_doc_frequency)
        .select("_nline")
    )
    flagged = lines.join(boiler, norm == F.col("_nline"), "left")
    is_kept = F.col("_nline").isNull()
    # collect_list skips nulls, so the WHEN collects only kept lines
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(is_kept, F.struct("line_no", "line")))
                ),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(is_kept, F.lit(1))).alias("n_lines_kept"),
    )


# ----------------------------------------------------------------------
# PII redaction: regex scrubbing of emails / phone numbers / IPv4 in
# the hot path. Patterns are deliberately RE2-compatible (no
# backrefs/lookaround) so the identical pattern runs in Java regex,
# RE2, and PCRE engines — and in the SQL oracle.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, pattern, replacement) — applied in order.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{1,3}[- ][0-9]{2,4}[- ][0-9]{3,4}[- ][0-9]{3,4}", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, redacted, n_redactions): text with emails/IPs/phones
    replaced by typed placeholder tokens.

    One narrow JVM-side projection (chained regexp_replace — no UDF,
    no shuffle); ``n_redactions`` counts replaced spans by re-matching
    each pattern before its rewrite.
    """
    t = F.col(text_col)
    n = F.lit(0)
    red = t
    for _name, pat, repl in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
        red = F.regexp_replace(red, pat, repl)
    return df.select(
        id_col,
        red.alias("redacted"),
        n.cast("long").alias("n_redactions"),
    )


# ----------------------------------------------------------------------
# BM25 relevance scoring: rank documents against a small term query —
# the retrieval/relevance-filter primitive of a curation pipeline
# (e.g. "keep documents that score against a topic seed query").
def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, dl, score) — Okapi BM25 of each document for ``query_terms``
    (Lucene idf variant: ln(1 + (N - df + 0.5)/(df + 0.5))); ``dl`` is
    the document word count, score rounds to 6.

    Scale shape: per-term tfs are counted IN-ROW over the bound word
    array (one narrow projection; no corpus explode, no shuffle at
    all for the tf side — queries are a handful of terms, so the k
    HOF passes per doc are bounded and the word array is bound to a
    real column first per the _ngram_hashes PERF CONTRACT). The
    corpus-global stats (N, Σdl, per-term df) reduce to ONE 1-row
    aggregate that broadcast-crossjoins back onto the tf rows — the
    scalar-subquery pattern, zero data movement of the corpus. Term
    list order does not affect the result (summation order is fixed
    by the deduped term list, and each addend is computed per-row).
    """
    # dedupe, preserving first occurrence: a repeated term must not
    # double-count, and the fixed order keeps float summation
    # deterministic across calls.
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # fan out before the per-term HOF passes: CPU-heavy, byte-small
    # (the r8 single-task-scan class; no-op at real partition counts)
    bound = _fan_out(df).withColumn("_bm25_ws", _words(F.col(text_col)))
    ws = F.col("_bm25_ws")
    def _tf(term: str) -> Column:
        # closure via parameter, NOT a lambda default arg: a second
        # lambda parameter makes PySpark pass the (element, index)
        # form and the index column leaks into the comparison.
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)]
    tfs = bound.select(
        F.col(id_col), F.size(ws).cast("long").alias("dl"), *tf_cols
    )
    stats = tfs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dl").alias("_sum_dl"),
        *[
            F.count(F.when(F.col(f"_tf{i}") > 0, F.lit(1))).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    avgdl = F.col("_sum_dl") / F.col("_n")
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        )
        tf = F.col(f"_tf{i}")
        part = (
            idf
            * tf
            * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
        )
        # wordless docs: dl = 0 and tf = 0 -> 0/«k1·(1-b)» = 0, no NaN
        score = part if score is None else score + part
    return tfs.join(F.broadcast(stats)).select(
        id_col, "dl", F.round(score, 6).alias("score")
    )


# ----------------------------------------------------------------------
# Feature hashing: fixed-dim bag-of-words embedding (the "hashing
# trick"). Deterministic (md5-based), so reproducible across engines.
def hashed_bow(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bucket, tf) — term frequency per hashed feature bucket.

    bucket(w) = first-8-md5-hex(w) mod dim over the word MULTISET
    (repeats count — this is tf, not set membership). Long/sparse
    output: only non-empty buckets appear. One explode + one hash
    aggregate with map-side partials; no dim-sized row blowup.
    """
    from my_weather_spark.llm._util import fan_out as _fan_out

    wh = _fan_out(df).select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("_w")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_w")), 1, 8), 16, 10).cast("long") % dim
    )
    return (
        wh.select(id_col, bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def hashed_bow_vectors(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, embedding: array<double>) — dense hashed-BoW vector per doc.

    Densifies :func:`hashed_bow` in-row: map bucket->tf, then one
    sequence(0, dim-1) lookup pass. Docs with no words get the zero
    vector. Output column name matches the embeddings table so
    similarity ops compose directly.
    """
    sparse = hashed_bow(df, dim, text_col, id_col)
    m = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("tf")))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.coalesce(
            F.element_at(F.col("_m"), b.cast("long")), F.lit(0)
        ).cast("double"),
    )
    # left join keeps wordless docs (zero vector) without a second scan
    # of the corpus: re-derive ids from df.
    ids = df.select(id_col)
    return (
        ids.join(m, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_m").isNull(), F.array_repeat(F.lit(0.0), dim))
            .otherwise(dense)
            .alias("embedding"),
        )
    )


# ----------------------------------------------------------------------
# Corpus-similarity diagnostics over the hashed feature space.
def strata_divergence(
    df: DataFrame,
    dim: int = 256,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(stratum, n_words, jsd) — Jensen-Shannon divergence between each
    stratum's hashed-unigram word distribution and the whole corpus's,
    the domain-similarity readout behind data-mixing decisions (which
    sources are interchangeable, which add diversity). Same first-8-
    md5-hex mod ``dim`` bucket construction as hashed_bow/DSIR, so the
    diagnostic lives in the feature space the selection ops use.

    JSD(P_s, Q) = 0.5*KL(P_s || M) + 0.5*KL(Q || M) with M = (P_s+Q)/2,
    natural log; 0 <= jsd <= ln 2. Zero-count buckets contribute exact
    +0.0 terms (IEEE no-ops), and the per-stratum fold runs in bucket-
    index order on BOTH engines (F.aggregate over sequence == DuckDB
    list_reduce over list(... ORDER BY bucket)), so the double sums
    match bit-for-bit; ln outputs are the tie-free class — plain
    round(6) is portable here.

    Scale shape: ONE corpus pass (explode words -> map-side-combined
    (stratum, bucket) counts, <= n_strata * dim rows out); everything
    after is arithmetic on that tiny frame — corpus totals derive from
    it (no second scan), densified per stratum, one-row corpus map
    broadcast-crossjoined back (scalar-subquery pattern). Strata with
    zero words carry no distribution and are absent from the output.
    """
    # fan out before the explode (r8 single-task-scan class): the
    # split+md5 map side otherwise runs on the input's few partitions
    wh = _fan_out(df).select(
        F.col(strata_col), F.explode(_words(F.col(text_col))).alias("_w")
    )
    bucket = (
        F.conv(F.substring(F.md5("_w"), 1, 8), 16, 10).cast("long") % dim
    )
    c = (
        wh.select(strata_col, bucket.alias("bucket"))
        .groupBy(strata_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = c.groupBy(strata_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("c")))
        ).alias("_m"),
        F.sum("c").cast("long").alias("n_words"),
    )
    tot_row = (
        c.groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("ct")))
            ).alias("_mt"),
            F.sum("ct").alias("_n"),
        )
    )

    def _term(acc, i):
        cs = F.coalesce(F.element_at(F.col("_m"), i.cast("long")), F.lit(0))
        ct = F.coalesce(F.element_at(F.col("_mt"), i.cast("long")), F.lit(0))
        p = cs / F.col("n_words")
        q = ct / F.col("_n")
        m = (p + q) / F.lit(2.0)
        contrib = F.when(
            ct > 0,
            F.lit(0.5)
            * (
                F.when(cs > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
                + q * F.log(q / m)
            ),
        ).otherwise(F.lit(0.0))
        return acc + contrib

    return (
        per.join(F.broadcast(tot_row))
        .select(
            strata_col,
            "n_words",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(dim - 1)), F.lit(0.0), _term
                ),
                6,
            ).alias("jsd"),
        )
    )


# ----------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A): the published
# heuristic document filter bundle, as ONE narrow in-row projection.
GOPHER_REQ_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
# bullet-prefix chars live inline in the _gopher_bound regexes
# ("^[•‣*-]" — '-' deliberately last so it can't form a range)


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_req_stopwords: int = 2,
) -> DataFrame:
    """Per-document Gopher rule measurements + the combined keep flag:
    (id, n_words, mean_word_len, symbol_word_ratio, bullet_line_ratio,
    ellipsis_line_ratio, alpha_word_ratio, n_req_stop, keep).

    The rules (defaults = the paper's): word count in [min, max]; mean
    word length in [3, 10]; '#'/ellipsis symbols per word <= 0.1; <=90%
    of non-empty lines bullet-led; <=30% ellipsis-terminated; >=80% of
    words contain a letter; >=2 of the 8 required English stop words
    present. Ratio columns are NULL when their denominator is zero
    (wordless / line-less docs — those fail the word-count rule, and
    SQL three-valued logic then collapses keep to false on both
    engines; keep is additionally coalesced to false so it never emits
    NULL). Rule PREDICATES compare the raw IEEE ratio (identical
    doubles both engines); emitted ratio COLUMNS are round6_portable
    (integer-over-integer rationals — the r6 tie class).

    Scale shape: one projection after the _fan_out repartition (the
    only exchange, a no-op at real partition counts); word/line arrays and
    the lowered word array are bound to real columns first (PERF
    CONTRACT, llm/decontam._ngram_hashes), every lambda touches only
    its argument.
    """
    bound, metrics, keep = _gopher_bound(
        df, text_col, min_words, max_words, min_mean_word_len,
        max_mean_word_len, max_symbol_word_ratio, max_bullet_line_ratio,
        max_ellipsis_line_ratio, min_alpha_word_ratio, min_req_stopwords,
    )
    n_words, mean_wl, sym_ratio, bullet_ratio, ell_ratio, alpha_ratio, n_req = metrics
    return bound.select(
        id_col,
        n_words.alias("n_words"),
        round6_portable(mean_wl).alias("mean_word_len"),
        round6_portable(sym_ratio).alias("symbol_word_ratio"),
        round6_portable(bullet_ratio).alias("bullet_line_ratio"),
        round6_portable(ell_ratio).alias("ellipsis_line_ratio"),
        round6_portable(alpha_ratio).alias("alpha_word_ratio"),
        n_req.alias("n_req_stop"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **rules,
) -> DataFrame:
    """Keep only documents passing every Gopher rule — same expressions
    as gopher_quality, applied as ONE narrow filter pass (no join, no
    second corpus scan; all original columns survive)."""
    bound, _metrics, keep = _gopher_bound(df, text_col, **_gopher_rule_kw(rules))
    return bound.where(F.coalesce(keep, F.lit(False))).select(*df.columns)


def _gopher_rule_kw(rules: dict) -> dict:
    bad = set(rules) - {
        "min_words", "max_words", "min_mean_word_len", "max_mean_word_len",
        "max_symbol_word_ratio", "max_bullet_line_ratio",
        "max_ellipsis_line_ratio", "min_alpha_word_ratio",
        "min_req_stopwords",
    }
    if bad:
        raise TypeError(f"unknown gopher rule(s): {sorted(bad)}")
    return rules


def _gopher_bound(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_req_stopwords: int = 2,
):
    """Shared expression builder: (bound df, metric columns, raw keep).
    Fans the corpus out first (r8 single-task-scan class: the word/
    line array passes are CPU-heavy, byte-small; no-op at real
    partition counts) — covers gopher_quality AND gopher_filter."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    bound = _fan_out(df).withColumn("_gq_ws", _words(t)).withColumn(
        "_gq_lines",
        F.filter(F.split(t, "\n"), lambda l: F.trim(l) != ""),
    )
    ws, lines = F.col("_gq_ws"), F.col("_gq_lines")
    n_words = F.size(ws).cast("long")
    n_lines = F.size(lines).cast("long")
    sum_word_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_wl = F.when(n_words > 0, sum_word_len / n_words)
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_uell = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    # '...' occurrences: 3 chars each; the length delta is always a
    # multiple of 3, so the double divide is exact and the cast safe
    n_dell = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("long")
    n_sym = (n_hash + n_uell + n_dell).cast("long")
    sym_ratio = F.when(n_words > 0, n_sym / n_words)
    bullet_pred = lambda l: F.ltrim(l).rlike("^[•‣*-]")
    n_bullet = F.size(F.filter(lines, bullet_pred)).cast("long")
    ell_pred = lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")
    n_ell_lines = F.size(F.filter(lines, ell_pred)).cast("long")
    bullet_ratio = F.when(n_lines > 0, n_bullet / n_lines)
    ell_ratio = F.when(n_lines > 0, n_ell_lines / n_lines)
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    alpha_ratio = F.when(n_words > 0, n_alpha / n_words)
    low = F.transform(ws, F.lower)
    bound = bound.withColumn("_gq_low", low)
    n_req = None
    for s in GOPHER_REQ_STOPWORDS:
        c = F.array_contains(F.col("_gq_low"), s).cast("int")
        n_req = c if n_req is None else n_req + c
    n_req = n_req.cast("long")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_word_ratio)
        & (bullet_ratio <= max_bullet_line_ratio)
        & (ell_ratio <= max_ellipsis_line_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (n_req >= min_req_stopwords)
    )
    metrics = (n_words, mean_wl, sym_ratio, bullet_ratio, ell_ratio,
               alpha_ratio, n_req)
    return bound, metrics, keep


# ----------------------------------------------------------------------
# Vocabulary construction support: exact top-k term frequencies with
# corpus-coverage shares (the readout behind tokenizer/vocab sizing —
# "how much of the corpus do the top k word types cover").
def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """(rank, word, count, coverage, cum_coverage) for the k most
    frequent words (ties by word asc). coverage = count/total tokens;
    cum_coverage accumulates down the ranking; both round6_portable
    (int-over-int rationals).

    Scale shape: one explode + ONE map-side-combined count aggregate
    (the only corpus-sized exchange; combine collapses each partition
    to its local vocab first), then orderBy+limit = per-partition
    top-k (TakeOrderedAndProject) over the vocab-sized frame. The
    total-token count is a one-row aggregate of the SAME vocab frame
    broadcast-crossjoined back (scalar-subquery pattern; no second
    corpus scan), and rank/cumsum windows run on the k-row result —
    bounded, single-task by construction.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    counts = (
        # NO _fan_out here, deliberately (r8 A/B: 0.60 -> 0.75 s —
        # the added raw-text exchange costs more than the split
        # parallelism buys; the explode's map-side partial agg
        # already bounds the serial section, unlike the md5-heavy
        # gram/feature scans where the fan-out won 1.3-2.6x)
        df.withColumn("_vt_ws", _words(F.coalesce(F.col(text_col), F.lit(""))))
        .select(F.explode("_vt_ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    # checkpoint the vocab-sized frame once: it feeds both the top-k
    # and the total; without the cut each consumer re-runs the corpus
    # explode+agg (the clean_corpus stage-count lesson)
    counts = counts.localCheckpoint()
    total = counts.agg(F.sum("count").cast("long").alias("_total"))
    top = counts.orderBy(F.desc("count"), "word").limit(k)
    w = Window.orderBy(F.desc("count"), "word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("count"), "word")))
        .withColumn("_cum", F.sum("count").over(w).cast("long"))
        .select(
            "rank",
            "word",
            "count",
            round6_portable(F.col("count") / F.col("_total")).alias("coverage"),
            round6_portable(F.col("_cum") / F.col("_total")).alias("cum_coverage"),
        )
    )
