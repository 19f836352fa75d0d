"""Incremental ingestion dedup: batches vs a persisted signature store."""

import pytest
from pyspark.sql import functions as F

from my_weather_spark.llm.incremental import SignatureStore


BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
OTHER = "completely different words about spark engines scaling large data very well"


@pytest.fixture()
def store(spark, tmp_path):
    return SignatureStore(spark, str(tmp_path / "sigstore"), jaccard_threshold=0.8)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_first_ingest_accepts_all(spark, store):
    batch = _docs(spark, [(0, BASE), (1, OTHER)])
    accepted, rep = store.ingest(batch)
    assert {r["doc_id"] for r in accepted.collect()} == {0, 1}
    assert (rep.n_batch, rep.n_exact_rejected, rep.n_near_rejected, rep.n_accepted) == (2, 0, 0, 2)
    assert store.docs().count() == 2
    assert store.bands().count() == 2 * 4  # 16 hashes / band_size 4


def test_second_batch_rejects_dups_against_store(spark, store):
    store.ingest(_docs(spark, [(0, BASE), (1, OTHER)]))
    batch2 = _docs(
        spark,
        [
            (10, BASE),                                  # exact dup of stored 0
            (11, BASE.replace("runs", "sprints")),       # near dup of stored 0
            (12, "a fresh unique document with plenty of brand new words in it"),
        ],
    )
    accepted, rep = store.ingest(batch2)
    assert {r["doc_id"] for r in accepted.collect()} == {12}
    assert rep.n_exact_rejected == 1
    assert rep.n_near_rejected == 1
    assert rep.n_accepted == 1
    # only the survivor's signatures were appended
    assert store.docs().count() == 3
    ids = {r["doc_id"] for r in store.docs().select("doc_id").collect()}
    assert ids == {0, 1, 12}


def test_within_batch_near_dup_keeps_smallest_id(spark, store):
    batch = _docs(
        spark,
        [
            (5, BASE),
            (6, BASE),                              # exact dup within batch
            (7, BASE.replace("dog", "cat")),        # near dup within batch
            (8, OTHER),
        ],
    )
    accepted, rep = store.ingest(batch)
    assert {r["doc_id"] for r in accepted.collect()} == {5, 8}
    assert rep.n_exact_rejected == 1  # 6
    assert rep.n_near_rejected == 1   # 7
    assert rep.n_accepted == 2


def test_reingest_same_content_is_idempotent(spark, store):
    store.ingest(_docs(spark, [(0, BASE)]))
    accepted, rep = store.ingest(_docs(spark, [(20, BASE)]))
    assert accepted.count() == 0
    assert rep.n_exact_rejected == 1
    assert store.docs().count() == 1  # nothing appended


def test_stream_ingest_two_waves(spark, tmp_path):
    from my_weather_spark.llm.incremental import SignatureStore, stream_ingest

    landing = str(tmp_path / "landing")
    accepted_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    sig = SignatureStore(spark, str(tmp_path / "sig"), jaccard_threshold=0.8)
    schema = "doc_id long, text string"

    # wave 1: two unique docs
    _docs(spark, [(0, BASE), (1, OTHER)]).write.mode("append").parquet(landing)
    q = stream_ingest(spark, landing, sig, accepted_dir, ckpt, schema=schema)
    q.awaitTermination(120)

    # wave 2: an exact dup, a near dup, and a fresh doc
    _docs(
        spark,
        [
            (10, BASE),
            (11, BASE.replace("runs", "sprints")),
            (12, "a fresh unique document with plenty of brand new words in it"),
        ],
    ).write.mode("append").parquet(landing)
    q = stream_ingest(spark, landing, sig, accepted_dir, ckpt, schema=schema)
    q.awaitTermination(120)

    from my_weather_spark.llm.incremental import read_accepted

    got = {r["doc_id"] for r in read_accepted(spark, accepted_dir, schema).collect()}
    assert got == {0, 1, 12}
    assert sig.docs().count() == 3


def test_transactional_retry_emits_same_accepted_set(spark, store):
    # Seed the store with one committed batch.
    acc0, _ = store.ingest(_docs(spark, [(0, BASE), (1, OTHER)]), batch_id=0)
    assert {r["doc_id"] for r in acc0.collect()} == {0, 1}
    store.commit_batch(0)

    # Batch 1 runs but CRASHES before commit (simulated: no marker).
    batch = _docs(
        spark,
        [
            (10, BASE),                             # near/exact dup of stored 0
            (12, "a fresh unique document with plenty of brand new words in it"),
        ],
    )
    acc1, rep1 = store.ingest(batch, batch_id=1)
    assert {r["doc_id"] for r in acc1.collect()} == {12}
    assert not store.is_committed(1)
    # Uncommitted rows are invisible to store state.
    assert store.docs().count() == 2
    # ...and an accepted subdir written pre-crash is invisible to
    # committed-only readers.
    from my_weather_spark.llm.incremental import read_accepted

    accepted_dir = str(store.path) + "_accepted"
    acc1.write.mode("overwrite").parquet(
        f"{accepted_dir}/{store._batch_dir(1)}"
    )
    assert read_accepted(
        store.spark, accepted_dir, "doc_id long, text string", store=store
    ).count() == 0

    # At-least-once redelivery of the SAME batch: must not self-reject —
    # the retry sees the pre-batch store state and re-emits {12}.
    acc1b, rep1b = store.ingest(batch, batch_id=1)
    assert {r["doc_id"] for r in acc1b.collect()} == {12}
    assert (rep1b.n_exact_rejected, rep1b.n_near_rejected, rep1b.n_accepted) == (
        rep1.n_exact_rejected, rep1.n_near_rejected, rep1.n_accepted,
    )
    store.commit_batch(1)

    # After commit the batch's rows are store state exactly once.
    assert store.docs().count() == 3
    assert {r["doc_id"] for r in store.docs().select("doc_id").collect()} == {0, 1, 12}

    # And a later batch dedups against the committed rows.
    acc2, rep2 = store.ingest(
        _docs(spark, [(20, "a fresh unique document with plenty of brand new words in it")]),
        batch_id=2,
    )
    assert acc2.count() == 0
    assert rep2.n_exact_rejected == 1


def test_committed_batch_short_circuits_on_redelivery(spark, tmp_path):
    from my_weather_spark.llm.incremental import SignatureStore, read_accepted, stream_ingest

    landing = str(tmp_path / "landing")
    accepted_dir = str(tmp_path / "accepted")
    sig = SignatureStore(spark, str(tmp_path / "sig"), jaccard_threshold=0.8)
    schema = "doc_id long, text string"

    wave1 = _docs(spark, [(0, BASE), (1, OTHER)])
    wave1.write.mode("append").parquet(landing)
    q = stream_ingest(spark, landing, sig, accepted_dir, str(tmp_path / "ckpt"), schema=schema)
    q.awaitTermination(120)
    # committed under the batch's CONTENT fingerprint, not the ordinal
    assert sig.is_committed(sig.batch_fingerprint(wave1))
    assert not sig.is_committed(0)

    # Simulate a lost checkpoint: the same files replay as batch 0 of a
    # FRESH checkpoint. The content-keyed commit marker short-circuits
    # the identical batch, so neither the store nor the accepted output
    # double-writes.
    q = stream_ingest(spark, landing, sig, accepted_dir, str(tmp_path / "ckpt2"), schema=schema)
    q.awaitTermination(120)
    assert sig.docs().count() == 2
    assert read_accepted(spark, accepted_dir, schema, store=sig).count() == 2


def test_fresh_checkpoint_with_new_files_ingests_them(spark, tmp_path):
    # The trap a batch-ORDINAL commit key falls into: wave 1 commits
    # under checkpoint A as batch 0; new files land; the operator
    # restarts with a FRESH checkpoint whose batch 0 bundles the old
    # AND new files. A content-keyed marker does not match the bundled
    # batch, so the new documents are ingested (old ones exact-reject);
    # an ordinal-keyed marker would have skipped them silently.
    from my_weather_spark.llm.incremental import (
        SignatureStore, read_accepted, stream_ingest,
    )

    landing = str(tmp_path / "landing")
    accepted_dir = str(tmp_path / "accepted")
    sig = SignatureStore(spark, str(tmp_path / "sig"), jaccard_threshold=0.8)
    schema = "doc_id long, text string"

    _docs(spark, [(0, BASE), (1, OTHER)]).write.mode("append").parquet(landing)
    q = stream_ingest(spark, landing, sig, accepted_dir, str(tmp_path / "ckA"), schema=schema)
    q.awaitTermination(120)
    assert sig.docs().count() == 2

    fresh = "a genuinely new document with words that appear nowhere else at all"
    _docs(spark, [(7, fresh)]).write.mode("append").parquet(landing)
    # FRESH checkpoint: batch 0 of the new lineage = all three files
    q = stream_ingest(spark, landing, sig, accepted_dir, str(tmp_path / "ckB"), schema=schema)
    q.awaitTermination(120)
    assert {r["doc_id"] for r in sig.docs().select("doc_id").collect()} == {0, 1, 7}
    got = {r["doc_id"] for r in read_accepted(spark, accepted_dir, schema, store=sig).collect()}
    assert 7 in got


def test_incremental_agrees_with_full_rebuild(spark, store, tmp_path):
    # ingesting in two batches must accept exactly the docs a full
    # clean over the union would keep (same signatures, same verify)
    from my_weather_spark.llm import dedup

    rows = [
        (0, BASE),
        (1, OTHER),
        (2, BASE.replace("runs", "walks")),     # near dup of 0
        (3, OTHER + " with an extra tail"),     # near dup of 1
        (4, "entirely novel content thats not like anything else around here"),
    ]
    store.ingest(_docs(spark, rows[:2]))
    acc2, _ = store.ingest(_docs(spark, rows[2:]))
    incremental_ids = {0, 1} | {r["doc_id"] for r in acc2.collect()}

    full = _docs(spark, rows)
    cand = dedup.minhash_lsh_pairs(full)
    verified = dedup.jaccard_for_candidates(full, cand, min_jaccard=0.8)
    losers = {r["doc_b"] for r in verified.collect()}
    full_ids = {r[0] for r in full.select("doc_id").collect()} - losers
    assert incremental_ids == full_ids


def test_store_and_batch_verify_agree_at_threshold(spark, tmp_path):
    # Docs over distinct synthetic words: A = [0, 92531), B =
    # [7503, 100033) share 85,028 of a 100,033-word union, so J =
    # 0.8499995 unrounded and 0.85 rounded. The batch verify keeps the
    # pair at 0.85, so the store must reject B as well — within one
    # batch, and then probing the stored A.
    from my_weather_spark.llm import dedup

    def words(lo, hi):
        return " ".join(f"w{i}" for i in range(lo, hi))

    docs = _docs(spark, [(0, words(0, 92531)), (1, words(7503, 100033))])
    # precondition: LSH emits the pair, so both paths verify it
    assert [tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect()] == [(0, 1)]
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    got = dedup.jaccard_for_candidates(docs, cand, min_jaccard=0.85).collect()
    assert [tuple(r) for r in got] == [(0, 1, 0.85)]

    store = SignatureStore(spark, str(tmp_path / "sigstore"), jaccard_threshold=0.85)
    accepted, rep = store.ingest(docs)
    assert [r["doc_id"] for r in accepted.collect()] == [0]
    assert rep.n_near_rejected == 1
    # the rejected B left no trace, so it can arrive again
    accepted, rep = store.ingest(docs.where("doc_id = 1"))
    assert accepted.count() == 0 and rep.n_near_rejected == 1


def test_batch_fingerprint_duplicate_rows_do_not_cancel(spark, store):
    # XOR alone cancels identical row pairs: {X,X,Y} and {Z,Z,Y} would
    # collide and a later distinct batch would be skipped as already
    # committed (silent loss). The sum component keeps multiplicity.
    xxy = _docs(spark, [(1, BASE), (1, BASE), (2, OTHER)])
    zzy = _docs(spark, [(3, "some other text entirely"), (3, "some other text entirely"), (2, OTHER)])
    assert store.batch_fingerprint(xxy) != store.batch_fingerprint(zzy)
    # duplicated pairs alone must not collapse to the same key either
    xx = _docs(spark, [(1, BASE), (1, BASE)])
    ww = _docs(spark, [(9, OTHER), (9, OTHER)])
    assert store.batch_fingerprint(xx) != store.batch_fingerprint(ww)
    # and the key stays order-invariant (same multiset, shuffled)
    yxx = _docs(spark, [(2, OTHER), (1, BASE), (1, BASE)])
    assert store.batch_fingerprint(xxy) == store.batch_fingerprint(yxx)


def test_torn_temporary_file_does_not_wedge_reads(spark, store, tmp_path):
    # A writer that died mid-batch leaves an uncommitted subdir that can
    # contain _temporary/ garbage and torn parquet part files. The
    # committed-state view must never OPEN those files: a footer error
    # would fail every later ingest until that batch retried.
    store.ingest(_docs(spark, [(0, BASE)]), batch_id="aaaa")
    store.commit_batch("aaaa")
    # simulate the crash: uncommitted batch dir with a torn file inside
    import os
    crash = tmp_path / "sigstore" / "docs" / "bcrash" / "_temporary" / "0"
    os.makedirs(crash, exist_ok=True)
    (crash / "part-00000.parquet").write_bytes(b"PAR1 this is not a parquet footer")
    (tmp_path / "sigstore" / "docs" / "bcrash" / "part-torn.parquet").write_bytes(b"torn")
    assert {r["doc_id"] for r in store.docs().collect()} == {0}
    # and a follow-up ingest (which probes the store views) still works
    accepted, rep = store.ingest(_docs(spark, [(5, OTHER)]), batch_id="bbbb")
    store.commit_batch("bbbb")
    assert rep.n_accepted == 1
    assert {r["doc_id"] for r in store.docs().collect()} == {0, 5}


def test_hot_bucket_guard_bounds_within_batch_self_join(spark, tmp_path):
    """Adversarial hot bucket (VERDICT r8 item 2): every doc in the
    batch shares EVERY band key — same word set, permuted word order,
    so content hashes are all distinct (stage-1 exact dedup removes
    nothing) while the minhash signatures are identical (word_array is
    a set; minhash is order-insensitive). Unguarded this is the
    O(batch^2) single-bucket blowup; with max_bucket far below the
    batch size the self-join degrades to a star around the bucket min.
    The star must produce EXACTLY the unguarded answer here: the hub is
    the smallest id and Jaccard(hub, x) = 1.0 for every member, so all
    but the hub are near-rejected — the same larger-id-loses semantics
    as dedup.minhash_lsh_pairs under its guard."""
    from itertools import permutations

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    texts = [" ".join(p) for p in permutations(words)][:40]
    rows = [(i, t) for i, t in enumerate(texts)]

    guarded = SignatureStore(
        spark, str(tmp_path / "g"), jaccard_threshold=0.8, max_bucket=4
    )
    acc_g, rep_g = guarded.ingest(_docs(spark, rows))
    assert {r["doc_id"] for r in acc_g.collect()} == {0}
    assert (rep_g.n_batch, rep_g.n_exact_rejected,
            rep_g.n_near_rejected, rep_g.n_accepted) == (40, 0, 39, 1)

    # Unguarded (default max_bucket=4096 never triggers at this size)
    # agrees bit-for-bit — the guard changes the plan, not the answer.
    unguarded = SignatureStore(spark, str(tmp_path / "u"), jaccard_threshold=0.8)
    acc_u, rep_u = unguarded.ingest(_docs(spark, rows))
    assert {r["doc_id"] for r in acc_u.collect()} == {0}
    assert rep_u.n_near_rejected == 39

    # The guarded store's persisted state is the survivor only, and a
    # follow-up batch still dedups against it correctly.
    assert guarded.docs().count() == 1
    acc2, rep2 = guarded.ingest(
        _docs(spark, [(100, texts[3]), (101, OTHER)])
    )
    assert {r["doc_id"] for r in acc2.collect()} == {101}
    assert rep2.n_exact_rejected + rep2.n_near_rejected == 1
