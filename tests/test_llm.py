"""LLM-data operator tests: dedup recall, ANN vs brute force,
multimodal decode plumbing, text analysis."""

import pytest
from pyspark.sql import functions as F

from my_weather_spark.llm import dedup, multimodal, similarity, text as text_ops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "a"),
        (1, "the quick brown fox jumps over the lazy dog", "a"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "a"),  # near dup of 0
        (3, "completely different content about spark engines", "b"),
        (4, "completely different content about spark engines here", "b"),  # near dup of 3
        (5, "unrelated text with nothing in common whatsoever today", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    dup_groups = [g for g in groups if g["n_copies"] > 1]
    assert len(dup_groups) == 1 and dup_groups[0]["keep_id"] == 0
    kept = dedup.drop_exact_duplicates(docs)
    assert kept.count() == 5
    assert kept.where(F.col("doc_id") == 1).count() == 0


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, num_hashes=16, band_size=4).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup likely collides
    assert (0, 5) not in pairs  # unrelated must not


def test_multiline_documents_tokenize_by_whitespace_runs(spark):
    # newline/tab-separated words are real words: single-space split
    # used to collapse them to one token and quality-drop the doc
    text = "the\nquick\tbrown\nfox jumps\nover the\tlazy dog and runs far"
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    stats = text_ops.token_stats(df).collect()[0]
    assert stats["n_words"] == 12
    kept = text_ops.quality_filter(df, min_words=10, max_punct_ratio=0.5)
    assert kept.count() == 1
    # dedup tokenization agrees (shared helper semantics)
    sigs = dedup.minhash_signatures(df)
    assert sigs.count() == 4  # 16 hashes / band_size 4


def test_empty_docs_emit_no_lsh_candidates(spark):
    # Empty/whitespace docs all minhash to NULL signatures, which used
    # to collapse into ONE "" band bucket emitting every O(n^2) empty
    # pair (a quadratic hot key at corpus scale). They carry no shingle
    # signal: no bands, no pairs.
    rows = [(i, "   " if i % 2 else "") for i in range(6)]
    rows.append((10, "real words here for one genuine document"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_signatures(df).where(F.col("doc_id") < 10).count() == 0
    assert dedup.minhash_lsh_pairs(df).count() == 0


def test_minhash_hot_bucket_degrades_to_star(spark):
    # A bucket over max_bucket emits hub-and-spoke pairs (linear),
    # not all-pairs (quadratic) — the 100 TB boilerplate-page guard.
    # 30 identical docs + 2 distinct; cap 8 << 30.
    rows = [(i, "same boilerplate page content repeated everywhere") for i in range(30)]
    rows += [(100, "some other genuine document body"), (101, "yet another unrelated text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_lsh_pairs(df, max_bucket=8).collect()
    # linear: exactly hub(0) x members(1..29); no quadratic 435-pair set
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(0, i) for i in range(1, 30)}
    # uncapped default emits the full quadratic candidate set
    assert dedup.minhash_lsh_pairs(df).count() == 30 * 29 // 2
    # cluster recovery is UNCHANGED through the verify + components
    # chain: hub pairs all verify at J=1, components identical.
    verified = dedup.jaccard_for_candidates(
        df, spark.createDataFrame(capped, "doc_a long, doc_b long"), min_jaccard=0.8
    )
    comps = dedup.connected_components_star(verified.select("doc_a", "doc_b")).collect()
    assert {r["doc_id"] for r in comps} == set(range(30))
    assert {r["component"] for r in comps} == {0}


@pytest.fixture(scope="module")
def lsh_corpus(spark):
    # Short docs over a 10-word vocabulary collide in many band buckets
    # at every band size; 12 identical docs make one bucket per band
    # that is hot under the small cap, and near-copies of them share
    # some of those hot buckets but not all, so a pair's earlier band
    # can be hub-degraded while a later one is small.
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(10)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(3, 6)))) for i in range(60)]
    rows += [(100 + i, "w1 w2 w3 w4 w5") for i in range(12)]
    rows += [(200 + i, "w1 w2 w3 w4 w" + str(6 + i % 4)) for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("max_bucket", [4096, 6])
@pytest.mark.parametrize("band_size", [8, 4, 2, 1])
def test_minhash_lsh_pairs_exactly_once_matches_reference(lsh_corpus, band_size, max_bucket):
    # Reference from the band rows in pure Python: all pairs of a bucket
    # of at most max_bucket docs, hub (min id) spokes above it.
    buckets = {}
    for r in dedup.minhash_signatures(lsh_corpus, 16, band_size).collect():
        buckets.setdefault((r["band"], r["band_key"]), []).append(r["doc_id"])
    want = set()
    for members in buckets.values():
        members.sort()
        if len(members) > max_bucket:
            want |= {(members[0], m) for m in members[1:]}
        else:
            want |= {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}
    if max_bucket < 4096:
        assert any(len(m) > max_bucket for m in buckets.values())
    got = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(lsh_corpus, 16, band_size, max_bucket=max_bucket).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("band_size", [8, 4, 1])
def test_minhash_band_keys_build_signature_once(docs, band_size):
    # The signature stays in its own projection: inlined into the band
    # keys it would be rebuilt once per band.
    plan = (
        dedup.minhash_band_keys(docs, 16, band_size)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert " AS _sigs#" in plan


def test_minhash_lsh_pairs_plan_constant_in_band_count(docs):
    lines = {
        band_size: len(
            dedup.minhash_lsh_pairs(docs, 16, band_size)
            ._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        for band_size in (8, 4, 2, 1)
    }
    assert len(set(lines.values())) == 1, lines


@pytest.mark.parametrize("max_bucket", [4096, 6])
@pytest.mark.parametrize("bits,max_hamming", [(16, 3), (60, 3), (32, 1)])
def test_simhash_hamming_pairs_exactly_once_matches_reference(
    lsh_corpus, bits, max_hamming, max_bucket
):
    # Reference from the simhashes in pure Python: bucket by each
    # bit-band value, all pairs of a bucket of at most max_bucket docs,
    # hub (min id) spokes above it, then the exact hamming filter.
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(lsh_corpus, bits).collect()}
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    buckets = {}
    for d, v in h.items():
        for b in range(n_bands):
            key = (b, (v >> b * band_bits) & ((1 << band_bits) - 1))
            buckets.setdefault(key, []).append(d)
    cand = set()
    for members in buckets.values():
        members.sort()
        if len(members) > max_bucket:
            cand |= {(members[0], m) for m in members[1:]}
        else:
            cand |= {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}
    if max_bucket < 4096:
        assert any(len(m) > max_bucket for m in buckets.values())
    want = {
        (a, b, bin(h[a] ^ h[b]).count("1"))
        for a, b in cand
        if bin(h[a] ^ h[b]).count("1") <= max_hamming
    }
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(
            lsh_corpus, max_hamming, bits, max_bucket=max_bucket
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_simhash_hamming_pairs_plan_constant_in_band_count(docs):
    plans = {
        max_hamming: dedup.simhash_hamming_pairs(docs, max_hamming, bits=16)
        ._jdf.queryExecution().executedPlan().toString()
        for max_hamming in (1, 3, 7)
    }
    assert len({len(p.splitlines()) for p in plans.values()}) == 1, plans
    assert not any("MapInPandas" in p for p in plans.values())


def test_simhash_hot_bucket_degrades_to_star(spark):
    # Identical docs share a simhash — one hot (band, band_val) bucket.
    # Over the cap it emits hub spokes (linear), with exact hamming.
    rows = [(i, "same boilerplate page content repeated everywhere") for i in range(25)]
    rows += [(100, "an entirely different document body here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_hamming_pairs(df, max_bucket=8).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(0, i) for i in range(1, 25)}
    assert all(r["hamming"] == 0 for r in capped)
    assert dedup.simhash_hamming_pairs(df).count() == 25 * 24 // 2


def test_srp_hot_bucket_degrades_to_star(spark):
    # Same guard on the SRP verify: over-cap buckets score members
    # against the min-id member only, with exact cosines.
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)]
    rows += [(100, [-4.0, 3.0, -2.0, 1.0]), (101, [0.5, -1.5, 2.5, -3.5])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = similarity.srp_lsh_pairs(corpus, threshold=0.9, max_bucket=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(0, i) for i in range(1, 20)}
    assert all(r["cos"] == 1.0 for r in capped)
    # uncapped finds the quadratic identical-cluster pair set
    uncapped = similarity.srp_lsh_pairs(corpus, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in uncapped} == {
        (a, b) for a in range(20) for b in range(a + 1, 20)
    }


def test_jaccard_verify_step(docs, spark):
    jac = dedup.jaccard_pairs_dense(docs, "source", min_jaccard=0.5)
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac.collect()}
    assert j[(0, 1)] == 1.0
    assert 0.5 <= j[(0, 2)] < 1.0
    # Two word-less docs share no word: the pair is dropped (a SQL
    # word-join verify never emits it) instead of dividing by an empty
    # union, which ANSI mode raises for the whole query.
    wordless = spark.createDataFrame(
        [(0, "", "s"), (1, "  ", "s"), (2, "a b", "s")],
        "doc_id long, text string, source string",
    )
    jac = dedup.jaccard_pairs_dense(wordless, "source", min_jaccard=0.0)
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac.collect()}
    assert j == {(0, 2): 0.0, (1, 2): 0.0}


def test_jaccard_for_candidates_prefilter_gate_branches(spark):
    # A pair's score must not depend on the rest of the candidate set:
    # a sparse set (2 pairs over 40 docs) and a dense one (the same 2
    # plus 12 more) score the shared pairs identically. (The sets once
    # took the two sides of a since-removed size-gated corpus
    # prefilter.)
    rows = [(i, f"unique words for document number {i} alpha beta") for i in range(36)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy dog"),
        (102, "the quick brown fox jumps over a sleepy dog"),
        (103, "entirely different content lives in this one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(100, 101), (100, 102)], "doc_a long, doc_b long"
    )
    # sparse candidate set
    got_pre = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_for_candidates(df, cand, min_jaccard=0.0).collect()
    }
    # dense candidate set; the shared pairs must score identically
    extra = spark.createDataFrame(
        [(i, 103) for i in range(12)], "doc_a long, doc_b long"
    )
    got_full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_for_candidates(
            df, cand.unionByName(extra), min_jaccard=0.0
        ).collect()
    }
    for k, v in got_pre.items():
        assert got_full[k] == v
    assert got_pre[(100, 101)] == 1.0
    assert 0.5 < got_pre[(100, 102)] < 1.0


def test_jaccard_for_candidates_builds_without_a_spark_job(spark):
    # Building the verify frame runs nothing: no count of the corpus or
    # the candidates, no eager checkpoint. The candidate chain runs
    # once, inside the frame's one consumer.
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b d")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    sc = spark.sparkContext
    sc.setJobGroup("verify_build_only", "jaccard_for_candidates build")
    try:
        out = dedup.jaccard_for_candidates(df, cand)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("verify_build_only")) == []
    assert [r["jaccard"] for r in out.collect()] == [0.5]


def test_simhash_near_dups_close(docs):
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=16).collect()}
    assert h[0] == h[1]
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[5]).count("1")
    assert ham_near < ham_far


def test_ivf_recall_vs_bruteforce(spark, sf_dir, tmp_path):
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    centroids = similarity.ivf_centroids(emb, n_centroids=16, refine_iters=1)
    index = similarity.ivf_build(emb, centroids, str(tmp_path / "ivf"))
    approx = similarity.ivf_topk(index, queries, centroids, k=3, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # IVF probes 4/16 trained buckets; demand solid overlap with exact
    assert len(a) == len(e)
    assert len(e & a) >= len(e) // 2
    # probe plan must be partition-pruned, never a full-corpus scan
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan

    # raw-corpus fallback (no persisted index) still works
    approx2 = similarity.ivf_topk(emb, queries, centroids, k=3, nprobe=4)
    a2 = {(r["query_id"], r["neighbor_id"]) for r in approx2.collect()}
    assert a2 == a


def test_ivf_sampled_training_recall_and_determinism(spark, sf_dir, tmp_path):
    # sample-based training (the 100 TB default) must stay deterministic
    # across runs (md5-ticket sample, not df.sample) and keep the same
    # recall bound as full-corpus training
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    c1 = similarity.ivf_centroids(
        emb, n_centroids=16, refine_iters=1, train_sample_target=200)
    c2 = similarity.ivf_centroids(
        emb, n_centroids=16, refine_iters=1, train_sample_target=200)
    key = lambda r: r["centroid_id"]
    assert sorted(c1.collect(), key=key) == sorted(c2.collect(), key=key)
    index = similarity.ivf_build(emb, c1, str(tmp_path / "ivf_sampled"))
    approx = similarity.ivf_topk(index, queries, c1, k=3, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) == len(e)
    assert len(e & a) >= len(e) // 2


def test_ivf_string_ids(spark):
    # id column type flows through assign/probe/score schemas
    rows = [(f"doc-{i}", [float(i == j) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    queries = emb.where(F.col("vec_id").isin("doc-0", "doc-1"))
    centroids = similarity.ivf_centroids(emb, n_centroids=4, refine_iters=0)
    got = similarity.ivf_topk(emb, queries, centroids, k=2, nprobe=4)
    out = got.collect()
    assert len(out) > 0
    assert all(isinstance(r["query_id"], str) and isinstance(r["neighbor_id"], str)
               for r in out)


def test_multimodal_decode_plumbing(spark, sf_dir):
    from my_weather_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = multimodal.media_from_documents(docs)
    feats = multimodal.decode_image_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 50
    r = rows[0]
    assert r["byte_len"] > 0 and len(r["sha1"]) == 40
    assert r["width"] == 64 and r["height"] == 64
    # schema is the declared one
    assert feats.columns == ["asset_id", "byte_len", "sha1", "mean_intensity", "width", "height"]


def test_multimodal_real_decoder_raises(spark):
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"xx"), (64, 64, 3, None, None, "raw"))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        multimodal.decode_image_features(media, decoder="real").collect()


def test_frame_sample_manifest(spark):
    media = spark.createDataFrame(
        [(7, "video", None, (None, None, None, 44100, 3.5, "fake/vid"))],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.frame_sample_manifest(media, every_n_seconds=1.0).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    assert rows[-1]["frame_ts_s"] == 3.0


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog in a house"),
            (1, "der Hund und die Katze ist nicht da"),
            (2, "le chat et la maison est une des choses"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in text_ops.language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr"}


def test_quality_filter(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again it runs"),
            (1, "x! y? z. !!! ??? ..."),
        ],
        "doc_id long, text string",
    )
    kept = text_ops.quality_filter(df, min_words=10, max_punct_ratio=0.2)
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_clean_corpus_pipeline(spark):
    from my_weather_spark.llm.pipeline import clean_corpus

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base, "a"),
        (1, base, "a"),  # exact dup -> dropped
        (2, base.replace("runs", "sprints"), "a"),  # near dup -> dropped (vs 0)
        (3, "completely different words about spark engines scaling large data very well", "b"),
        (4, "x! y?", "b"),  # fails quality (too short)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    clean, report = clean_corpus(docs, min_words=5, jaccard_threshold=0.8)
    ids = sorted(r["doc_id"] for r in clean.select("doc_id").collect())
    assert ids == [0, 3]
    assert report.n_input == 5
    assert report.n_after_quality == 4
    assert report.n_after_exact == 3
    assert report.n_after_near == 2
    assert report.n_near_dup_pairs >= 1
    # analysis columns attached
    cols = set(clean.columns)
    assert {"n_words", "predicted_lang", "fingerprint"} <= cols


def test_connected_components_chains(spark):
    # A-B, B-C, and isolated D-E: {0,1,2} one cluster, {7,8} another
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (7, 8)], "doc_a long, doc_b long"
    )
    rows = dedup.connected_components_star(pairs).collect()
    cc = {r["doc_id"]: r["component"] for r in rows}
    assert cc == {0: 0, 1: 0, 2: 0, 7: 7, 8: 7}
    assert len(rows) == len(cc)  # one label per node; the dict hides repeats


def test_connected_components_hub_plus_chain(spark):
    # One hot node (0) adjacent to 20k members, plus a chain through the
    # members: the neighbourhood minimum over the hub's partition and the
    # label uniqueness (no final distinct) on one 20,001-node component.
    n = 20_000
    hub = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("doc_a"), F.col("id").alias("doc_b")
    )
    chain = spark.range(1, n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    labels = dedup.connected_components_star(hub.unionByName(chain))
    assert labels.count() == n + 1
    assert labels.count() == labels.select("doc_id").distinct().count()
    assert labels.where(F.col("component") != 0).count() == 0


def test_connected_components_star_log_rounds(spark):
    # a 33-node path: neighbor-min propagation would need O(diameter)
    # ~ 32 rounds; alternating large/small-star converges in O(log n)
    n = 33
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, rounds = dedup.connected_components_star(pairs, return_rounds=True)
    cc = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert all(cc[i] == 0 for i in range(n))
    assert rounds <= 8, f"expected O(log n) convergence, used {rounds} rounds"


def test_simhash_hamming_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0  # identical docs: distance 0
    # near dup (one word changed) within budget; unrelated docs not
    if (0, 2) in pairs:
        assert pairs[(0, 2)] <= 3
    assert (0, 5) not in pairs


def test_hashed_bow_matches_manual(docs, spark):
    import hashlib

    sparse = {
        (r["doc_id"], r["bucket"]): r["tf"]
        for r in text_ops.hashed_bow(docs, dim=8).collect()
    }
    # manual tf for doc 0 (word multiset, "the" appears twice)
    text = "the quick brown fox jumps over the lazy dog"
    expect = {}
    for w in text.split():
        b = int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 8
        expect[b] = expect.get(b, 0) + 1
    got = {b: tf for (d, b), tf in sparse.items() if d == 0}
    assert got == expect

    dense = {
        r["doc_id"]: r["embedding"]
        for r in text_ops.hashed_bow_vectors(docs, dim=8).collect()
    }
    assert len(dense) == 6 and all(len(v) == 8 for v in dense.values())
    assert {b: int(v) for b, v in enumerate(dense[0]) if v} == expect
    # identical docs -> identical vectors
    assert dense[0] == dense[1]


def test_srp_lsh_vs_brute_force(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(15):  # 15 clusters of 3 near-identical vectors
        base = rng.standard_normal(32)
        base /= np.linalg.norm(base)
        for _ in range(3):
            v = base + rng.standard_normal(32) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(40):  # noise vectors (no high-cos pairs among them)
        v = rng.standard_normal(32)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    srp = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.srp_lsh_pairs(
            corpus, threshold=0.95, n_planes=32, band_bits=8
        ).collect()
    }
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.cosine_self_pairs(corpus, threshold=0.95).collect()
    }
    assert len(brute) == 45  # 15 clusters x 3 intra-cluster pairs
    # precision exact: every SRP pair is a true pair with the same cosine
    for k, v in srp.items():
        assert k in brute and abs(v - brute[k]) < 1e-6
    # recall: collision prob per 8-bit band at cos .95 is ~.83, 4 bands
    # -> ~.999; allow a little slack for the fixed seed
    assert len(srp) >= 0.9 * len(brute)

    # default geometry (256 planes / 16-bit bands — the scale-sparse
    # setting): same precision contract, recall ~1-(1-.899^16)^16≈.96
    srp_wide = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.srp_lsh_pairs(corpus, threshold=0.95).collect()
    }
    for k, v in srp_wide.items():
        assert k in brute and abs(v - brute[k]) < 1e-6
    assert len(srp_wide) >= 0.85 * len(brute)


@pytest.mark.parametrize("n_blocks", [1, 4, 8])
def test_cosine_self_pairs_matches_numpy_reference(spark, sf_dir, n_blocks):
    import numpy as np

    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    blocked = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in similarity.cosine_self_pairs(
            emb, threshold=0.3, n_blocks=n_blocks
        ).collect()
    }
    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    A = np.array([v for _, v in rows], dtype=np.float64)
    A /= np.linalg.norm(A, axis=1, keepdims=True)
    S = np.round(A @ A.T, 6)
    want = {
        (int(ids[i]), int(ids[j])): float(S[i, j])
        for i, j in zip(*np.nonzero(S >= 0.3))
        if i < j
    }
    assert blocked == want and len(blocked) > 0


def test_ivf_topk_empty_query_batch(spark, sf_dir):
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # an empty query batch returns an empty frame, not an np.stack crash
    empty = emb.where(F.col("vec_id") < 0)
    cents = similarity.ivf_centroids(emb, n_centroids=4, refine_iters=0)
    assert similarity.ivf_topk(emb, empty, cents, k=2).count() == 0


def test_semantic_decontam_flags(spark):
    import numpy as np

    rows = [
        (0, [1.0, 0.0, 0.0]),   # == bench 100
        (1, [0.9, 0.1, 0.0]),   # near bench 100
        (2, [0.0, 0.0, 1.0]),   # orthogonal to both benches
        (3, [0.5, 0.5, 0.0]),   # EXACT tie between bench 100 and 101
    ]
    bench_rows = [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bench = spark.createDataFrame(
        bench_rows, "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in similarity.semantic_decontam_flags(
            corpus, bench, threshold=0.8
        ).collect()
    }
    assert len(got) == 4
    assert got[0]["contaminated"] and got[0]["max_cos"] == 1.0
    assert got[0]["bench_id"] == 100
    assert got[1]["contaminated"] and got[1]["bench_id"] == 100
    assert not got[2]["contaminated"] and got[2]["max_cos"] == 0.0
    # exact rounded tie -> LOWEST bench id (the oracle's order)
    assert got[3]["bench_id"] == 100
    assert got[3]["max_cos"] == round(0.5 / np.sqrt(0.5), 6)
    # numpy replay of every max_cos
    b = np.array([v for _, v in bench_rows], dtype=np.float64)
    b /= np.linalg.norm(b, axis=1, keepdims=True)
    for i, v in rows:
        a = np.array(v) / np.linalg.norm(v)
        assert got[i]["max_cos"] == np.round(a @ b.T, 6).max(), i
    # loud guards: empty or oversized benchmark
    empty = bench.where(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        similarity.semantic_decontam_flags(corpus, empty)
    with pytest.raises(ValueError, match="max_bench_rows"):
        similarity.semantic_decontam_flags(corpus, bench, max_bench_rows=1)


def test_pq_ann_replay_and_recall(spark, sf_dir):
    import numpy as np

    from my_weather_spark.llm import pq
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ids, cb = pq.pq_codebooks(emb, m=4, k=16, seed="pq")
    assert cb.shape == (4, 16, 16) and len(ids) == 16
    codes_df = pq.pq_encode(emb, cb)
    queries = emb.where(F.col("vec_id").isin(1, 2, 3))
    got = pq.pq_topk(codes_df, queries, cb, k=5).collect()
    assert {r["query_id"] for r in got} == {1, 2, 3}
    # python replay: encode + ADC end to end
    pdf = emb.select("vec_id", "embedding").toPandas()
    V = {r.vec_id: np.array(list(r.embedding), dtype=np.float64)
         for r in pdf.itertuples()}
    codes = {}
    for vid, v in V.items():
        codes[vid] = [
            int(np.round(((v[j*16:(j+1)*16] - cb[j]) ** 2).sum(axis=1), 6).argmin())
            for j in range(4)
        ]
    for r in got:
        q = V[r["query_id"]]
        lut = [np.round(((q[j*16:(j+1)*16] - cb[j]) ** 2).sum(axis=1), 6)
               for j in range(4)]
        d = lut[0][codes[r["neighbor_id"]][0]]
        for j in range(1, 4):
            d = d + lut[j][codes[r["neighbor_id"]][j]]
        assert r["adc_dist"] == d, r
    # loud guards
    with pytest.raises(ValueError, match="divisible"):
        pq.pq_codebooks(emb, m=3, k=16)
    with pytest.raises(ValueError, match="at least"):
        pq.pq_codebooks(emb.limit(4), m=4, k=16)
    with pytest.raises(ValueError, match="empty"):
        pq.pq_topk(codes_df, emb.where(F.col("vec_id") < 0), cb)
    with pytest.raises(ValueError, match="max_query_rows"):
        pq.pq_topk(codes_df, emb, cb, max_query_rows=2)


def test_pq_adc_exact_when_corpus_is_codebook(spark):
    """When every corpus vector IS a codebook entry (k = n), encoding
    reconstructs exactly and ADC == true squared L2 (per-subspace
    rounded) — so PQ top-k must equal the exact neighbor order."""
    import numpy as np

    from my_weather_spark.llm import pq

    rng = np.random.RandomState(5)
    protos = rng.uniform(-1, 1, size=(6, 8)).round(3)
    rows = [(i, [float(x) for x in protos[i]]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ids, cb = pq.pq_codebooks(emb, m=2, k=6, seed="pq")
    codes = pq.pq_encode(emb, cb)
    queries = emb.where(F.col("vec_id") == 0)
    got = pq.pq_topk(codes, queries, cb, k=5).collect()
    q = protos[0]
    true_d = {
        i: np.round(((q[:4] - protos[i][:4]) ** 2).sum(), 6)
        + np.round(((q[4:] - protos[i][4:]) ** 2).sum(), 6)
        for i in range(1, 6)
    }
    want = sorted(true_d, key=lambda i: (true_d[i], i))
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == want
    for r in got:
        assert r["adc_dist"] == true_d[r["neighbor_id"]]


def test_pq_encode_tie_breaks_to_lowest_code(spark):
    import numpy as np

    from my_weather_spark.llm import pq

    # two identical codebook entries -> any vector ties -> code 0 wins
    cb = np.zeros((1, 2, 2))
    cb[0, 0] = [1.0, 0.0]
    cb[0, 1] = [1.0, 0.0]
    df = spark.createDataFrame(
        [(7, [0.25, 0.5])], "vec_id long, embedding array<double>"
    )
    [r] = pq.pq_encode(df, cb).collect()
    assert list(r["codes"]) == [0]


def test_ivf_topk_zero_norm_vector_not_top_ranked(spark):
    # a zero vector has no direction; NaN cosine used to sort ABOVE
    # every real neighbor under desc ordering
    import math

    rows = [(i, [math.cos(i * 0.1), math.sin(i * 0.1)]) for i in range(12)]
    rows.append((99, [0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(emb, n_centroids=2, refine_iters=0)
    got = similarity.ivf_topk(emb, emb.where(F.col("vec_id") == 0), cents, k=3, nprobe=2)
    top = sorted(got.collect(), key=lambda r: r["rank"])
    assert all(r["neighbor_id"] != 99 for r in top)
    assert all(not math.isnan(r["cos"]) for r in top)


def test_ivf_topk_query_size_guard(spark, sf_dir):
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=4, refine_iters=0)
    with pytest.raises(ValueError, match="broadcast-sized"):
        similarity.ivf_topk(emb, emb, cents, max_query_rows=10)


# The zero-vector rule (llm/similarity.py module docstring) on one
# input: a zero vector among three real ones whose real cosines are all
# negative, so a zero scored as 0.0 would pass threshold -1, win every
# argmax and rank first. No oracle table has a zero vector, and DuckDB's
# list_cosine_similarity gives it -1.0, so only this test pins the rule.
_ZERO_ROWS = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [-0.6, 0.8]), (3, [-0.6, -0.8])]
_REAL_PAIRS = {(0, 2): -0.6, (0, 3): -0.6, (2, 3): -0.28}
# (neighbor_id, cos, rank) of the top-k paths, by query
_ZERO_TOPK = {0: [(2, -0.6, 1), (3, -0.6, 2), (1, None, 3)],
              1: [(0, None, 1), (2, None, 2), (3, None, 3)]}


def _zero_case(spark, path, query):
    emb = spark.createDataFrame(_ZERO_ROWS, "vec_id long, embedding array<double>")
    cents = emb.withColumnRenamed("vec_id", "centroid_id")
    shifted = lambda df: df.select((F.col("vec_id") + 10).alias("vec_id"), "embedding")
    if path in ("brute_force_topk", "ivf_topk"):
        q = emb.where(F.col("vec_id") == query)
        got = (similarity.brute_force_topk(emb, q) if path == "brute_force_topk"
               else similarity.ivf_topk(emb, q, cents, nprobe=4))
        got = [(r["neighbor_id"], r["cos"], r["rank"]) for r in got.orderBy("rank").collect()]
        return got, _ZERO_TOPK[query]
    if path == "cosine_self_pairs":
        got = similarity.cosine_self_pairs(emb, threshold=-1.0).collect()
        return {(r["query_id"], r["neighbor_id"]): r["cos"] for r in got}, _REAL_PAIRS
    if path == "semantic_decontam_flags:zero_corpus_row":
        bench = shifted(emb.where(F.col("vec_id") != 1))
        got = similarity.semantic_decontam_flags(emb, bench, threshold=-1.0).collect()
        # the zero row falls back to the first bench id
        want = {0: (10, 1.0, True), 1: (10, None, False), 2: (12, 1.0, True), 3: (13, 1.0, True)}
        return {r["vec_id"]: tuple(r)[1:] for r in got}, want
    if path == "semantic_decontam_flags:zero_bench_row":
        corpus = shifted(emb.where(F.col("vec_id") == 0))
        bench = emb.where(F.col("vec_id") != 0)
        got = similarity.semantic_decontam_flags(corpus, bench, threshold=-1.0).collect()
        return [tuple(r) for r in got], [(10, 2, -0.6, True)]
    if path == "ivf_assign":
        got = similarity.ivf_assign(emb, cents.where(F.col("centroid_id") != 0)).collect()
        # vector 0 ties between centroids 2 and 3; the zero vector
        # falls back to the first centroid in id order
        return {r["vec_id"]: r["centroid_id"] for r in got}, {0: 2, 1: 1, 2: 2, 3: 3}
    if path == "srp_lsh_pairs":
        # one-bit bands: two of the three real vectors share a bucket
        got = similarity.srp_lsh_pairs(emb, threshold=-1.0, n_planes=2, band_bits=1)
        got = {(r["id_a"], r["id_b"]): r["cos"] for r in got.collect()}
        assert got
        return got, {p: _REAL_PAIRS.get(p) for p in got}
    got = similarity.semantic_dedup(emb, n_clusters=1, threshold=-1.0).collect()
    return {r["vec_id"]: r["kept"] for r in got}, {0: True, 1: True, 2: False, 3: False}


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("path,query", [
    ("brute_force_topk", 0),
    ("brute_force_topk", 1),
    ("cosine_self_pairs", None),
    ("semantic_decontam_flags:zero_corpus_row", None),
    ("semantic_decontam_flags:zero_bench_row", None),
    ("ivf_assign", None),
    ("ivf_topk", 0),
    ("ivf_topk", 1),
    ("srp_lsh_pairs", None),
    ("semantic_dedup", None),
])
def test_zero_vector_rule(spark, path, query):
    got, want = _zero_case(spark, path, query)
    assert got == want


def test_srp_lsh_zero_norm_vectors_never_pair(spark):
    # zero vectors (e.g. hashed-BoW of wordless docs) all share the
    # all-zero sign code; they must be dropped, not emitted as
    # NaN-cosine "pairs" (Spark NaN ordering would pass >= threshold).
    rows = [
        (0, [0.0] * 16),
        (1, [0.0] * 16),
        (2, [1.0] + [0.0] * 15),
        (3, [1.0] + [0.0] * 15),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.srp_lsh_pairs(corpus, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(2, 3)}
    assert all(not (r["cos"] != r["cos"]) for r in got)  # no NaN


def test_decontam_flags_prunes_document_columns(spark, sf_dir):
    # Column pruning must reach the parquet scan: decontam only needs
    # (doc_id, text), and a scan that also reads lang/source/n_chars
    # would move ~2x the bytes at 100 TB. Pin ReadSchema against
    # regression (same style as the p2 projection audit).
    import __spark_entry__ as entry

    df = entry.queries()["decontam_flags"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [seg for seg in plan.split("ReadSchema: ")[1:]]
    doc_scans = [seg for seg in scans if "text" in seg.split("\n")[0]]
    assert doc_scans, f"no documents scan found in plan: {plan[:800]}"
    for seg in doc_scans:
        schema_line = seg.split("\n")[0]
        assert "lang" not in schema_line and "n_chars" not in schema_line, (
            f"documents scan reads unpruned columns: {schema_line}")


def test_remove_boilerplate_lines(spark):
    # RefinedWeb-style line dedup: lines recurring in >= K docs vanish
    # everywhere, blank lines and order survive, all-boilerplate docs
    # stay as empty rows (never silently dropped).
    header = "SITE NAV | home | about"
    footer = "(c) footer common to pages"
    rows = [
        (1, header + "\ncontent one unique\n\n" + footer),
        (2, header + "\ncontent two differs\n" + footer),
        (3, header + "\nthird body text here\n" + footer),
        (4, "standalone document no boilerplate"),
        (5, header),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_ops.remove_boilerplate_lines(df, min_doc_frequency=3)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["text"] == "content one unique\n"      # blank line kept
    assert (got[1]["n_lines"], got[1]["n_lines_kept"]) == (4, 2)
    assert got[2]["text"] == "content two differs"
    assert got[4]["text"] == "standalone document no boilerplate"
    assert got[5]["text"] == "" and got[5]["n_lines_kept"] == 0
    with pytest.raises(ValueError):
        text_ops.remove_boilerplate_lines(df, min_doc_frequency=1)


def test_remove_boilerplate_lines_matches_python_reference(spark):
    # randomized corpus (seeded) checked line-for-line against an
    # independent in-memory implementation of the same semantics
    import random

    rng = random.Random(42)
    pool_common = [f"common banner {i}" for i in range(4)]
    pool_rare = [f"rare line {i} with words" for i in range(200)]
    rows = []
    for d in range(40):
        n = rng.randint(1, 8)
        lines = []
        for _ in range(n):
            if rng.random() < 0.35:
                lines.append(rng.choice(pool_common))
            elif rng.random() < 0.1:
                lines.append("   ")  # whitespace-only: never boilerplate
            else:
                lines.append(rng.choice(pool_rare))
        rows.append((d, "\n".join(lines)))

    min_df = 3
    # python reference
    doc_lines = {d: t.split("\n") for d, t in rows}
    df_count = {}
    for d, ls in doc_lines.items():
        for nl in {l.strip() for l in ls if l.strip()}:
            df_count[nl] = df_count.get(nl, 0) + 1
    boiler = {l for l, c in df_count.items() if c >= min_df}
    expect = {}
    for d, ls in doc_lines.items():
        kept = [l for l in ls if l.strip() not in boiler or not l.strip()]
        expect[d] = ("\n".join(kept), len(ls), len(kept))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
        for r in text_ops.remove_boilerplate_lines(df, min_doc_frequency=min_df).collect()
    }
    assert got == expect


def test_ppm_codec_golden_and_header_comments():
    import numpy as np

    from my_weather_spark.llm import multimodal as mm

    # 2x2 RGB golden: decodes bit-exact
    arr = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    back = mm.decode_ppm(b"P6\n2 2\n255\n" + arr.tobytes())
    assert back.shape == (2, 2, 3) and (back == arr).all()
    # header comments + whitespace runs per the netpbm spec
    commented = b"P6\n# a comment\n 2  2 # wxh\n255\n" + arr.tobytes()
    assert (mm.decode_ppm(commented) == arr).all()
    # grayscale P5
    g = np.array([[0, 128], [64, 255]], dtype=np.uint8)
    assert (mm.decode_ppm(b"P5\n2 2\n255\n" + g.tobytes()) == g).all()
    # corrupt payloads raise, not garbage
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_ppm(b"JFIF....")
    with _pytest.raises(ValueError):
        mm.decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 5)


def test_multimodal_ppm_real_decode_through_spark(spark, sf_dir):
    import numpy as np

    from my_weather_spark.llm import multimodal as mm
    from my_weather_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    media = mm.media_ppm_from_documents(docs, width=16, height=12)
    feats = mm.decode_image_features(media, decoder="ppm")
    rows = feats.collect()
    assert len(rows) == 40
    # width/height come from the actual payload header, not the meta
    assert all(r["width"] == 16 and r["height"] == 12 for r in rows)
    # cross-check one asset against a local decode of the same payload
    payload = media.where(F.col("asset_id") == rows[0]["asset_id"]).first()["payload"]
    arr = mm.decode_ppm(payload)
    assert rows[0]["mean_intensity"] == float(np.mean(arr))


def test_wav_codec_golden_and_resample():
    import numpy as np
    import pytest as _pytest

    from my_weather_spark.llm import multimodal as mm

    # mono round-trip
    x = (np.sin(np.arange(800) / 10.0) * 20000).astype(np.int16)
    b = mm.encode_wav(x, 8000)
    rate, back = mm.decode_wav(b)
    assert rate == 8000 and back.shape == (800, 1) and (back[:, 0] == x).all()
    # stereo round-trip (interleaving preserved)
    st = np.stack([x, -x], axis=1)
    rate2, back2 = mm.decode_wav(mm.encode_wav(st, 44100))
    assert rate2 == 44100 and back2.shape == (800, 2) and (back2 == st).all()
    # extra chunk before data is skipped (chunk-walk, not offset 44)
    import struct

    extra = b[:12] + b"LIST" + struct.pack("<I", 4) + b"INFO" + b[12:]
    rate3, back3 = mm.decode_wav(extra)
    assert rate3 == 8000 and (back3[:, 0] == x).all()
    # corrupt/unsupported raise
    with _pytest.raises(ValueError):
        mm.decode_wav(b"ID3\x03....")


def test_multimodal_wav_real_decode_through_spark(spark, sf_dir):
    import numpy as np

    from my_weather_spark.llm import multimodal as mm
    from my_weather_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = mm.media_wav_from_documents(docs, sample_rate=1000)
    feats = mm.decode_audio_features(media, decoder="wav")
    rows = feats.collect()
    assert len(rows) == 30
    by_id = {r["asset_id"]: r for r in rows}
    meta = {r["asset_id"]: r for r in media.select("asset_id", "meta").collect()}
    for aid, r in by_id.items():
        # container-decoded rate/duration agree with the declared meta
        assert r["sample_rate"] == 1000 and r["n_channels"] == 1
        assert r["duration_s"] == meta[aid]["meta"]["duration_s"]
        assert r["rms"] > 0 and 0 < r["peak"] <= 32767


def test_jpeg_codec_goldens_and_errors():
    import numpy as np
    import pytest as _pytest

    from my_weather_spark.llm import jpeg as J

    # valid JFIF container shape: SOI..EOI, parseable marker walk
    img = np.full((16, 16), 200, dtype=np.uint8)
    b = J.encode_jpeg(img, quality=50)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    # gradient content survives a quality-75 round trip exactly
    # (step-4 ramp lands on representable DCT levels)
    gx = np.tile(np.arange(64, dtype=np.uint8) * 4, (32, 1))
    assert (J.decode_jpeg(J.encode_jpeg(gx, quality=75)) == gx).all()
    # noise round-trip: bounded error, exact shape incl. non-multiple
    # of 8 dims (edge-replication pad + crop)
    rng = np.random.default_rng(7)
    noisy = rng.integers(0, 256, (24, 33), dtype=np.uint8)
    out = J.decode_jpeg(J.encode_jpeg(noisy, quality=90))
    assert out.shape == noisy.shape
    assert np.abs(out.astype(int) - noisy.astype(int)).max() <= 40
    # color: YCbCr transform both ways, bounded error on smooth input
    yy, xx = np.mgrid[0:24, 0:40]
    smooth = np.clip(
        np.stack(
            [128 + 90 * np.sin(xx / 9), 128 + 70 * np.cos(yy / 7), xx * 3],
            axis=2,
        ),
        0,
        255,
    ).astype(np.uint8)
    outc = J.decode_jpeg(J.encode_jpeg(smooth, quality=85))
    assert outc.shape == smooth.shape
    assert np.abs(outc.astype(int) - smooth.astype(int)).mean() < 4
    # honest failure modes name the unsupported feature
    with _pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x00\x00")
    prog = bytearray(b)
    prog[prog.index(b"\xff\xc0")+1] = 0xC2  # flip SOF0 -> SOF2
    with _pytest.raises(NotImplementedError):
        J.decode_jpeg(bytes(prog))


def test_multimodal_jpeg_real_decode_through_spark(spark, sf_dir):
    import numpy as np

    from my_weather_spark.llm import jpeg as J
    from my_weather_spark.llm import multimodal as mm
    from my_weather_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = mm.media_jpeg_from_documents(docs, width=16, height=16, quality=50)
    feats = mm.decode_image_features(media, decoder="jpeg")
    rows = feats.collect()
    assert len(rows) == 30
    assert all(r["width"] == 16 and r["height"] == 16 for r in rows)
    # cross-check one asset against a local decode of the same payload
    one = media.first()
    arr = J.decode_jpeg(one["payload"])
    mine = [r for r in rows if r["asset_id"] == one["asset_id"]][0]
    assert mine["mean_intensity"] == float(np.mean(arr))
    # NULL payload -> NULL-feature row, batch survives
    from pyspark.sql import functions as F

    nulled = media.withColumn(
        "payload",
        F.when(F.col("asset_id") % 2 == 0, F.col("payload")),
    )
    nrows = mm.decode_image_features(nulled, decoder="jpeg").collect()
    assert len(nrows) == 30
    assert any(r["mean_intensity"] is None for r in nrows)
    assert any(r["mean_intensity"] is not None for r in nrows)


def test_lm_perplexity_scores_and_filter(spark):
    from pyspark.sql import functions as F

    from my_weather_spark.llm import lm

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat on the rug") for i in range(5)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),          # in-model
            (2, "zqx glorp wibble frobnicate zzz"), # out-of-model
            (3, "one"),                             # < 2 words: no score
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in lm.perplexity_scores(docs, ref).collect()}
    assert rows[1]["n_bigrams"] == 5 and rows[2]["n_bigrams"] == 4
    # reference-like text must beat gibberish decisively
    assert rows[1]["avg_logp"] > rows[2]["avg_logp"]
    assert rows[1]["ppl"] < rows[2]["ppl"]
    # scoreless short docs keep NULLs and count 0
    assert rows[3]["n_bigrams"] == 0 and rows[3]["avg_logp"] is None
    # ppl = exp(-avg_logp) on the rounded column
    import math

    assert abs(rows[1]["ppl"] - round(math.exp(-rows[1]["avg_logp"]), 4)) < 1e-9
    # filter keeps the in-model doc, drops gibberish + scoreless
    kept = [r["doc_id"] for r in
            lm.perplexity_filter(docs, ref, max_ppl=rows[1]["ppl"] + 1).collect()]
    assert kept == [1]


def test_lm_final_only_word_scores_like_absent(spark):
    """A word appearing ONLY doc-final in the reference gets a model
    row with c1=0 and an empty map (the fused vocab-from-model build),
    which must score exactly like a word absent from the model:
    log(alpha / (alpha * V)). Pins the _model_frame NULL-sentinel
    invariant, and that V counts doc-final-only words in the vocab."""
    import math

    from my_weather_spark.llm import lm

    # 'omega' occurs only as the final word of every ref doc; 'ghost'
    # never occurs. V = |{the, cat, sat, omega}| + 1 = 5.
    ref = spark.createDataFrame(
        [(1, "the cat sat omega"), (2, "cat the sat omega")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [(1, "omega omega"), (2, "ghost ghost")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in lm.perplexity_scores(docs, ref).collect()}
    # both docs are one bigram whose prefix has no outgoing bigrams:
    # P = (0 + 0.5) / (0 + 0.5 * 5) for the final-only word and the
    # absent word alike
    expect = round(math.log(0.5 / (0.5 * 5)), 6)
    assert rows[1]["avg_logp"] == expect
    assert rows[1]["avg_logp"] == rows[2]["avg_logp"]


def test_duplicate_span_stats_and_drop(spark):
    from my_weather_spark.llm import dedup

    shared = "alpha beta gamma delta epsilon"  # 5-word span shared verbatim
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail words here"),
            (2, shared + " other trailing content entirely"),
            (3, "completely different text with no repeats at all"),
            (4, "tiny"),  # under n words: no spans
        ],
        ["doc_id", "text"],
    )
    stats = {
        r["doc_id"]: r
        for r in dedup.duplicate_span_stats(docs, n=5).collect()
    }
    # docs 1 and 2 share exactly the one leading 5-word span
    assert stats[1]["n_dup_spans"] == 1 and stats[2]["n_dup_spans"] == 1
    assert stats[3]["n_dup_spans"] == 0 and stats[3]["dup_span_ratio"] == 0.0
    assert stats[4]["n_spans"] == 0 and stats[4]["dup_span_ratio"] is None
    # doc 1 has 6 distinct 5-word spans (10 words), ratio 1/6
    assert stats[1]["n_spans"] == 6
    assert abs(stats[1]["dup_span_ratio"] - round(1 / 6, 6)) < 1e-9
    # threshold drop: cutting at 0.1 removes the two span-sharers,
    # keeps the clean doc and the spanless doc
    kept = sorted(
        r["doc_id"]
        for r in dedup.drop_span_duplicates(docs, n=5, max_dup_ratio=0.1).collect()
    )
    assert kept == [3, 4]


def test_jpeg_restart_interval_and_malformed_inputs():
    """DRI/RSTn decode path (the encoder never emits restarts, so the
    fixture is hand-spliced) + marker-loop robustness: fill bytes are
    legal, truncations raise ValueError — never bare IndexError."""
    import numpy as np
    import pytest
    import struct as _struct

    from my_weather_spark.llm import jpeg as J

    def _split(b):
        # header through end of SOS segment | entropy data (sans EOI)
        pos = 2
        while True:
            assert b[pos] == 0xFF
            marker = b[pos + 1]
            pos += 2
            seglen = _struct.unpack(">H", b[pos : pos + 2])[0]
            pos += seglen
            if marker == 0xDA:
                return b[:pos], b[pos:-2]

    left = np.full((8, 8), 100, np.uint8)
    right = np.full((8, 8), 200, np.uint8)
    wide = np.hstack([left, right])  # 8x16 -> two MCUs

    hdr_wide, _ = _split(J.encode_jpeg(wide, quality=50))
    _, ent_left = _split(J.encode_jpeg(left, quality=50))
    _, ent_right = _split(J.encode_jpeg(right, quality=50))
    # restart semantics: each interval is byte-aligned with DC
    # prediction reset — i.e. exactly a standalone one-block scan
    sos_at = hdr_wide.rfind(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x01"  # DRI, interval = 1 MCU
    fixture = (
        hdr_wide[:sos_at]
        + dri
        + hdr_wide[sos_at:]
        + ent_left
        + b"\xff\xd0"  # RST0
        + ent_right
        + b"\xff\xd9"
    )
    out = J.decode_jpeg(fixture)
    assert (out == J.decode_jpeg(J.encode_jpeg(wide, quality=50))).all()
    # uniform blocks at quality 50 survive the codec exactly
    assert (out == wide).all()

    # fill bytes before a marker are legal (T.81 B.1.1.2)
    filled = fixture[:2] + b"\xff\xff" + fixture[2:]
    assert (J.decode_jpeg(filled) == out).all()

    # ... including before an RSTn inside the entropy stream
    rst_at = len(hdr_wide[:sos_at] + dri + hdr_wide[sos_at:] + ent_left)
    assert fixture[rst_at : rst_at + 2] == b"\xff\xd0"
    rst_filled = fixture[:rst_at] + b"\xff" + fixture[rst_at:]
    assert (J.decode_jpeg(rst_filled) == out).all()

    # truncations anywhere raise ValueError, never IndexError/struct.error
    for cut in (3, 5, 12, len(fixture) // 2, len(fixture) - 3):
        with pytest.raises((ValueError, NotImplementedError)):
            J.decode_jpeg(fixture[:cut])
    # trailing fill bytes with nothing after them
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\xff\xd8\xff\xff")
    # segment length lying past the end of the data
    bad = bytearray(fixture)
    dqt = bytes(bad).find(b"\xff\xdb") + 2
    bad[dqt : dqt + 2] = _struct.pack(">H", 60000)
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(bad))


def test_bm25_scores_golden_and_edges(spark):
    """Hand-computed BM25 (Lucene idf) on a 3-doc corpus + edge cases:
    zero-df query term, wordless doc, duplicate query terms dedup."""
    import math

    rows = [
        (0, "spark spark join"),      # dl=3
        (1, "join filter"),           # dl=2
        (2, "   "),                   # dl=0 (wordless)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in text_ops.bm25_scores(
            docs, ["spark", "join", "spark", "ghost"]
        ).collect()
    }
    n, k1, b = 3, 1.2, 0.75
    avgdl = (3 + 2 + 0) / 3
    def idf(df_):
        return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
    def part(tf, dl, df_):
        return idf(df_) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    exp0 = part(2, 3, 1) + part(1, 3, 2)  # spark(df=1), join(df=2)
    exp1 = part(0, 2, 1) + part(1, 2, 2)
    assert got[0]["dl"] == 3 and got[1]["dl"] == 2 and got[2]["dl"] == 0
    assert abs(got[0]["score"] - round(exp0, 6)) < 1e-6
    assert abs(got[1]["score"] - round(exp1, 6)) < 1e-6
    # wordless doc scores 0 (not NaN/NULL), zero-df term contributes 0
    assert got[2]["score"] == 0.0
    with pytest.raises(ValueError):
        text_ops.bm25_scores(docs, [])


def test_srp_scan_bucket_boundary_carry(spark):
    """The SRP verify scans sorted partitions in Arrow batches; a
    bucket spanning a batch boundary (or ending exactly ON one) must be
    stitched, not split. Force 7-row batches and compare against the
    result under default batching."""
    # 40 copies of one direction (plus per-row jitter) share every SRP
    # bucket, so each bucket spans several 7-row batches
    rows = [(i, [1.0, 2.0, 3.0, 4.0 + i * 1e-3]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def query():
        return similarity.srp_lsh_pairs(df, threshold=0.9, n_planes=32, band_bits=8)

    want = sorted(map(tuple, query().collect()))
    assert want  # the shared direction guarantees close pairs
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = sorted(map(tuple, query().collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == want


# ----------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic dedup.
def _semdedup_reference(ids, vecs, n_clusters, threshold, seed="semdedup"):
    """Pure-python/numpy replay of semantic_dedup's contract."""
    import hashlib

    import numpy as np

    def ticket(i):
        h = hashlib.md5(f"{seed}{i}".encode()).hexdigest()
        return int(h[:15], 16) % 1_000_000

    order = sorted(range(len(ids)), key=lambda k: (ticket(ids[k]), ids[k]))
    seeds = order[: n_clusters]
    smat = np.asarray([vecs[k] for k in seeds], dtype=np.float64)
    smat /= np.linalg.norm(smat, axis=1, keepdims=True)
    A = np.asarray(vecs, dtype=np.float64)
    A /= np.linalg.norm(A, axis=1, keepdims=True)
    cluster = {ids[k]: ids[seeds[np.argmax(A[k] @ smat.T)]] for k in range(len(ids))}
    out = {}
    for k in range(len(ids)):
        kept = True
        for j in range(len(ids)):
            if ids[j] < ids[k] and cluster[ids[j]] == cluster[ids[k]]:
                if np.round(float(A[j] @ A[k]), 6) >= threshold:
                    kept = False
                    break
        out[ids[k]] = (cluster[ids[k]], kept)
    return out


def test_semantic_dedup_matches_bruteforce_reference(spark, sf_dir):
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in similarity.semantic_dedup(emb, n_clusters=8, threshold=0.3).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = [list(r["embedding"]) for r in rows]
    want = _semdedup_reference(ids, vecs, n_clusters=8, threshold=0.3)
    assert got == want
    assert any(not kept for _, kept in got.values())  # threshold does real work


def test_semantic_dedup_idempotent_and_partition_invariant(spark, sf_dir):
    from my_weather_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    first = similarity.semantic_dedup(emb, n_clusters=8, threshold=0.3)
    base = {(r["vec_id"], r["cluster_id"], r["kept"]) for r in first.collect()}
    shuffled = {
        (r["vec_id"], r["cluster_id"], r["kept"])
        for r in similarity.semantic_dedup(
            emb.repartition(13), n_clusters=8, threshold=0.3
        ).collect()
    }
    assert shuffled == base
    # the survivor invariant: within a cluster, kept vectors are
    # pairwise BELOW threshold (so under the same anchors a second
    # pass would drop nothing; fresh anchors may re-cluster)
    import numpy as np

    vec = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.select("vec_id", "embedding").collect()}
    by_cluster = {}
    for v, c, k in base:
        if k:
            by_cluster.setdefault(c, []).append(v)
    checked = 0
    for members in by_cluster.values():
        for i, a in enumerate(members):
            va = vec[a] / np.linalg.norm(vec[a])
            for b in members[i + 1:]:
                vb = vec[b] / np.linalg.norm(vec[b])
                assert np.round(float(va @ vb), 6) < 0.3
                checked += 1
    assert checked > 0


def test_semantic_dedup_edges(spark):
    import numpy as np

    # empty corpus -> empty result with the right schema
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(empty, n_clusters=4, threshold=0.5)
    assert out.columns == ["vec_id", "cluster_id", "kept"] and out.count() == 0
    with pytest.raises(ValueError):
        similarity.semantic_dedup(empty, n_clusters=0, threshold=0.5)
    # n_clusters > n rows; exact duplicate vectors dedup to the lowest id;
    # a zero-norm vector (NaN cosine) never drops nor is dropped
    rows = [
        (10, [1.0, 0.0]),
        (11, [1.0, 0.0]),        # exact dup of 10
        (12, [0.0, 1.0]),        # orthogonal — kept
        (13, [0.0, 0.0]),        # zero-norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(df, n_clusters=16, threshold=0.9).collect()
    }
    assert got == {10: True, 11: False, 12: True, 13: True}
    # string ids: same shapes, cluster_id carries the string anchor id
    sdf = spark.createDataFrame(
        [(f"doc-{v}", e) for v, e in rows], "doc_id string, embedding array<float>"
    )
    srows = similarity.semantic_dedup(
        sdf, n_clusters=16, threshold=0.9, id_col="doc_id"
    ).collect()
    assert {r["doc_id"]: r["kept"] for r in srows} == {
        "doc-10": True, "doc-11": False, "doc-12": True, "doc-13": True
    }
    assert all(isinstance(r["cluster_id"], str) for r in srows)


def test_semantic_dedup_keep_far_from_anchor(spark):
    """The paper's diversity-keeping policy: of a near-dup pair, keep
    the member FARTHER from the cluster anchor (lowest anchor-cosine
    priority), vs the default lowest-id policy."""
    import hashlib

    def ticket(i):
        return int(hashlib.md5(f"semdedup{i}".encode()).hexdigest()[:15], 16) % 10**6

    # n_clusters=1: the single anchor is the min-(ticket, id) row —
    # pick the anchor id so the [1,0] row is guaranteed to be it
    cand = list(range(1, 10))
    zid = min(cand, key=lambda i: (ticket(i), i))
    aid, bid = sorted(set(cand) - {zid})[:2]  # aid < bid
    rows = [(zid, [1.0, 0.0]), (aid, [0.05, 1.0]), (bid, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # a/b are near-dups (cos ~0.9988); a is nearer the anchor than b
    by_id = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(df, n_clusters=1, threshold=0.99).collect()
    }
    assert by_id == {zid: True, aid: True, bid: False}  # default keeps lower id
    far = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(
            df, n_clusters=1, threshold=0.99, keep="far_from_anchor"
        ).collect()
    }
    assert far == {zid: True, aid: False, bid: True}  # keeps the far member
    with pytest.raises(ValueError):
        similarity.semantic_dedup(df, keep="nope")


def test_semantic_dedup_exact_tie_assigns_lowest_ticket_anchor(spark):
    """A vector exactly equidistant from two anchors (cos 1/sqrt(2) to
    both, bit-equal — same float ops) must go to the lower-TICKET
    anchor: the kernel's argmax takes the first seed in ticket order
    and the SQL oracle's row_number orders by (cos DESC, ticket,
    seed_id) — this pins the two tie-breaks to each other."""
    import hashlib

    def ticket(i):
        return int(hashlib.md5(f"semdedup{i}".encode()).hexdigest()[:15], 16) % 10**6

    # only two rows -> both are anchors; the third row ties
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.semantic_dedup(df, n_clusters=2, threshold=0.99).collect()
    }
    want_anchor = 1 if ticket(1) < ticket(2) else 2
    assert got[3] == want_anchor


# ---------------------------------------------------------------- gopher
def test_gopher_quality_directed(spark):
    rows = [
        # 57 words incl. all 8 required stopwords -> passes at min_words=5
        (0, "the cat sat to be of and that have with more words here to pad "
            + "word " * 42),
        # 3 non-empty lines: 2 bullet-led, 1 ellipsis-terminated; the
        # '...' also counts as a symbol (1 symbol / 9 words)
        (1, "- bullet one\n- bullet two\nnormal line ends..."),
        (2, "# # # hash heavy text the to of"),
        (3, None),
        (4, ""),
        (5, "12345 9999 1111 2222"),  # no alphabetic words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.asDict()
        for r in text_ops.gopher_quality(df, min_words=5).collect()
    }
    assert got[0]["keep"] is True and got[0]["n_req_stop"] == 8
    r1 = got[1]
    assert r1["n_words"] == 9
    assert r1["symbol_word_ratio"] == pytest.approx(0.111111)
    assert r1["bullet_line_ratio"] == pytest.approx(0.666667)
    assert r1["ellipsis_line_ratio"] == pytest.approx(0.333333)
    assert r1["keep"] is False  # alpha ratio 7/9 < 0.8, 0 req stopwords
    # '#'-heavy: symbol ratio 3/9 > 0.1 and mean word len 2.56 < 3
    assert got[2]["symbol_word_ratio"] == pytest.approx(0.333333)
    assert got[2]["keep"] is False
    # NULL / empty text: NULL ratios, keep False (never NULL)
    for i in (3, 4):
        assert got[i]["n_words"] == 0
        assert got[i]["mean_word_len"] is None
        assert got[i]["keep"] is False
    # digits-only: alpha ratio 0 -> fail
    assert got[5]["alpha_word_ratio"] == 0.0 and got[5]["keep"] is False


def test_gopher_filter_one_pass(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat to be of and that have with " + "word " * 50, "a"),
            (1, "too short", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = text_ops.gopher_filter(df, min_words=5)
    assert [r.doc_id for r in out.collect()] == [0]
    assert out.columns == ["doc_id", "text", "source"]  # originals survive
    with pytest.raises(TypeError, match="unknown gopher rule"):
        text_ops.gopher_filter(df, not_a_rule=1)


def test_gopher_paper_default_word_floor(spark):
    # paper default min_words=50: a 49-word stopword-rich doc fails
    txt = "the be to of and that have with " + "word " * 41
    df = spark.createDataFrame([(0, txt)], "doc_id long, text string")
    [r] = text_ops.gopher_quality(df).collect()
    assert r.n_words == 49 and r.keep is False
    [r2] = text_ops.gopher_quality(df, min_words=49).collect()
    assert r2.keep is True


def test_vocab_topk(spark):
    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a b d"), (2, None)],
        "doc_id long, text string",
    )
    rows = text_ops.vocab_topk(df, k=3).collect()
    got = [(r.rank, r.word, r["count"]) for r in sorted(rows, key=lambda r: r.rank)]
    # counts: a=4, b=3, c=1, d=1 -> top-3 ties broken by word asc
    assert got == [(1, "a", 4), (2, "b", 3), (3, "c", 1)]
    by_rank = {r.rank: r for r in rows}
    assert by_rank[1].coverage == pytest.approx(4 / 9, abs=1e-6)
    assert by_rank[3].cum_coverage == pytest.approx(8 / 9, abs=1e-6)
    with pytest.raises(ValueError, match="k must be"):
        text_ops.vocab_topk(df, k=0)


def test_strata_divergence_matches_replay(spark):
    import hashlib
    import math

    dim = 16
    rows = [
        (0, "alpha alpha beta gamma", "a"),
        (1, "beta beta delta", "a"),
        (2, "omega omega omega zeta", "b"),
        (3, "alpha omega", "b"),
        (4, "", "empty"),  # zero words -> absent from output
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_words"], r["jsd"])
        for r in text_ops.strata_divergence(df, dim=dim).collect()
    }
    assert "empty" not in got

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim

    per, tot = {}, [0] * dim
    for _, text, src in rows:
        for w in text.split():
            b = bucket(w)
            per.setdefault(src, [0] * dim)[b] += 1
            tot[b] += 1
    n = sum(tot)
    for src, cs in per.items():
        ns = sum(cs)
        jsd = 0.0
        for i in range(dim):
            if tot[i] == 0:
                continue
            p, q = cs[i] / ns, tot[i] / n
            m = (p + q) / 2.0
            jsd += 0.5 * (
                (p * math.log(p / m) if cs[i] > 0 else 0.0)
                + q * math.log(q / m)
            )
        assert got[src] == (ns, round(jsd, 6)), src
    # one stratum == whole corpus -> P == Q -> JSD exactly 0
    solo = spark.createDataFrame(rows[:2], "doc_id long, text string, source string")
    [r] = text_ops.strata_divergence(solo, dim=dim).collect()
    assert r["jsd"] == 0.0
