"""Incremental corpus ingestion: dedup NEW documents against a
persisted signature store instead of re-running LSH over the whole
corpus on every ingest.

At 100 TB a corpus is not rebuilt — batches arrive and must be checked
against everything already accepted. Re-running the full
LSH-self-join per batch would cost O(corpus) per ingest; this store
makes an ingest cost O(batch + matched buckets):

- the store persists, per accepted doc, its LSH band keys (the bucket
  table), its ``dedup.word_hashes`` set (for exact Jaccard verify
  without retaining text) and a content hash (exact-dup check);
- an incoming batch is hashed in-row, then probed against the store
  with the batch side BROADCAST on every join — the store is scanned
  (column-pruned, never shuffled) and only colliding buckets produce
  verify work;
- both verifies (batch vs store, and within the batch) score through
  ``dedup.jaccard_scored``, the one score ``jaccard_for_candidates``
  uses, rounding included — so batch ingest and full-corpus rebuild
  agree on every accept/reject, pairs at the threshold too;
- accepted docs append their band + word-set rows; rejected docs leave
  no trace. Within-batch duplicates resolve by smallest id first, so
  ingest order inside a batch never matters.

The store is the incremental twin of ``minhash_lsh_pairs`` →
``jaccard_for_candidates``: same signature family, same verify
semantics, amortized per-batch cost.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_weather_spark.llm import dedup
from my_weather_spark.session import checkpoint


@dataclass
class IngestReport:
    n_batch: int
    n_exact_rejected: int
    n_near_rejected: int
    n_accepted: int


class SignatureStore:
    """Persisted LSH state for incremental dedup.

    Layout under ``path``:
      ``bands/``   — (doc_id, band, band_key): the LSH bucket table
      ``docs/``    — (doc_id, content_hash, word_hashes): verify state
      ``commits/`` — zero-byte ``b<id>`` markers, one per committed
                     transactional batch

    Two write modes:

    - **Plain batch** (``ingest(batch)``): appends flat files under
      ``docs/`` and ``bands/`` — simple, but a crash between the two
      appends leaves the store inconsistent. Fine for one-shot builds.
    - **Transactional** (``ingest(batch, batch_id=N)``): all rows for
      the batch land under ``docs/b<N>/`` and ``bands/b<N>/`` with
      overwrite semantics, and become visible to later ingests only
      once :meth:`commit_batch` drops the ``commits/b<N>`` marker.
      A redelivered batch (foreachBatch at-least-once retry) therefore
      recomputes against exactly the pre-batch store state — its own
      partial rows are invisible and overwritten — so retries emit the
      same accepted set instead of self-rejecting (the failure mode
      flagged in round-2 ADVICE for stream_ingest).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 16,
        band_size: int = 4,
        jaccard_threshold: float = 0.85,
        max_bucket: int = 4096,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_hashes = num_hashes
        self.band_size = band_size
        self.jaccard_threshold = jaccard_threshold
        # Hot-bucket cap for the WITHIN-BATCH LSH self-join — same
        # guard and same default as dedup.minhash_lsh_pairs (see its
        # docstring for the degradation contract). A micro-batch is
        # only nominally small: with trigger(availableNow) over a
        # landing area of few big files, the batch IS the corpus
        # (maxFilesPerTrigger bounds files, not rows), so the self-join
        # needs the same O(B^2)-per-bucket protection as the full
        # rebuild.
        self.max_bucket = max_bucket

    # -- helpers --------------------------------------------------------
    def _fs(self, sub: str):
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{sub}")
        return p, p.getFileSystem(conf)

    def _exists(self, sub: str) -> bool:
        p, fs = self._fs(sub)
        return fs.exists(p)

    @staticmethod
    def _batch_dir(batch_id: "int | str") -> str:
        # int keys zero-pad for stable listing; string keys (content
        # fingerprints) are used verbatim.
        if isinstance(batch_id, int):
            return f"b{batch_id:012d}"
        return f"b{batch_id}"

    @staticmethod
    def _batch_key(batch_id: "int | str") -> str:
        return SignatureStore._batch_dir(batch_id)[1:]

    def batch_fingerprint(
        self, new_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> str:
        """Order-invariant content fingerprint of a batch — the commit
        key for streaming ingest. A foreachBatch ``batch_id`` is an
        ordinal scoped to ONE checkpoint lineage: after a checkpoint
        reset, 'batch 0' may bundle already-committed files WITH new
        ones, and a marker keyed on the ordinal would silently skip the
        new files. Content-keying makes the commit check mean 'this
        exact document set was fully ingested', independent of
        checkpoint history. One small agg, no collect of doc data.

        The key combines THREE independent reductions — count, bit_xor
        and sum of the per-doc hashes. XOR alone is not enough: any
        pair of identical (id, text) rows XOR-cancels to zero, so
        multisets like {X,X,Y} and {Z,Z,Y} would collide and a distinct
        batch could be silently skipped as already-committed. The sum
        keeps duplicate multiplicity visible (2X+Y != 2Z+Y unless
        X = Z); it accumulates as decimal(38,0) so many near-2^60
        hashes cannot overflow int64 under ANSI mode."""
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col(id_col).cast("string"), F.md5(F.col(text_col))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        row = new_docs.select(h.alias("_h")).agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(_h)").alias("x"),
            F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        import hashlib as _hl

        return _hl.md5(f"{row['n']}|{row['x']}|{row['s']}".encode()).hexdigest()[:20]

    # -- commit protocol -----------------------------------------------
    def is_committed(self, batch_id: "int | str") -> bool:
        return self._exists(f"commits/{self._batch_dir(batch_id)}")

    def commit_batch(self, batch_id: "int | str") -> None:
        """Drop the zero-byte marker that makes batch ``batch_id``'s
        docs/bands rows visible to subsequent ingests. Call ONLY after
        every output of the batch (store rows + accepted rows) is
        durable — the marker is the transaction's commit point."""
        p, fs = self._fs(f"commits/{self._batch_dir(batch_id)}")
        fs.mkdirs(p.getParent())
        fs.create(p, True).close()

    def _uncommitted_batch_keys(self) -> list[str]:
        """Batch subdirs present under docs/ or bands/ without a commit
        marker — partial state a crashed attempt left behind. Driver-
        side listing: one RPC per store dir, not per file."""
        found: set[str] = set()
        for sub in ("docs", "bands"):
            if not self._exists(sub):
                continue
            p, fs = self._fs(sub)
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith("b") and len(name) > 1:
                    found.add(name[1:])
        return [k for k in found if not self.is_committed(k)]

    # -- reads ----------------------------------------------------------
    _BANDS_SCHEMA = "doc_id long, band int, band_key string"
    _DOCS_SCHEMA = "doc_id long, content_hash string, word_hashes array<bigint>"

    def _read(self, sub: str, schema: str, exclude_batch: "int | str | None") -> DataFrame:
        """Committed-state view of docs/ or bands/: flat legacy files
        plus committed batch subdirs, minus uncommitted partials and
        minus ``exclude_batch`` (the batch currently being ingested —
        a retry must not see its own earlier partial write).

        The read lists the store dir ONCE and passes the surviving
        paths explicitly — no recursiveFileLookup. A recursive scan
        would also pick up a crashed writer's ``_temporary/`` output;
        a row filter can drop those rows, but a torn parquet FILE fails
        the whole read at footer time, wedging every later ingest until
        the same batch happens to retry. Skipping the uncommitted dirs
        at the path level never opens the torn file at all."""
        full_schema = schema + ", ingest_batch_key string"
        if not self._exists(sub):
            return self.spark.createDataFrame([], full_schema)
        drop = set(self._uncommitted_batch_keys())
        if exclude_batch is not None:
            drop.add(self._batch_key(exclude_batch))
        p, fs = self._fs(sub)
        paths: list[str] = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory():
                if name.startswith("b") and len(name) > 1 and name[1:] not in drop:
                    paths.append(f"{self.path}/{sub}/{name}")
            elif not name.startswith(("_", ".")):
                # Legacy flat append files (ingest_batch_key reads NULL).
                paths.append(f"{self.path}/{sub}/{name}")
        if not paths:
            return self.spark.createDataFrame([], full_schema)
        return self.spark.read.schema(full_schema).parquet(*paths)

    def bands(self, exclude_batch: "int | str | None" = None) -> DataFrame:
        return self._read("bands", self._BANDS_SCHEMA, exclude_batch).drop(
            "ingest_batch_key"
        )

    def docs(self, exclude_batch: "int | str | None" = None) -> DataFrame:
        return self._read("docs", self._DOCS_SCHEMA, exclude_batch).drop(
            "ingest_batch_key"
        )

    # -- ingest ---------------------------------------------------------
    def ingest(
        self,
        new_docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        batch_id: "int | str | None" = None,
    ) -> tuple[DataFrame, IngestReport]:
        """Dedup ``new_docs`` against the store AND within the batch;
        persist survivors' signatures; return (accepted rows, report).

        With ``batch_id`` set the write is transactional (see class
        docstring): rows land under per-batch subdirs with overwrite
        semantics and only count as store state after
        :meth:`commit_batch`. Without it, rows are appended flat
        (legacy one-shot mode).

        Batch ids must be disjoint from already-ingested ids (they are
        corpus-global ids by construction).
        """
        n_batch = new_docs.count()

        batch = new_docs.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("content_hash"),
            dedup.word_hashes(text_col).alias("word_hashes"),
        ).cache()

        # 1. exact dups: within batch (keep smallest id per hash), then
        # against the store's content hashes.
        batch_keep = (
            batch.groupBy("content_hash")
            .agg(F.min(id_col).alias("_keep"))
            .select(F.col("_keep").alias(id_col))
        )
        batch1 = batch.join(batch_keep, id_col, "left_semi")
        store_hashes = self.docs(exclude_batch=batch_id).select("content_hash")
        exact_clean = batch1.join(
            store_hashes.join(
                F.broadcast(batch1.select("content_hash").distinct()),
                "content_hash",
                "left_semi",
            ),
            "content_hash",
            "left_anti",
        )
        n_exact_rejected = n_batch - exact_clean.count()

        # 2. near dups vs the STORE: probe the bucket table with the
        # batch's bands (batch side broadcast — the store only scans),
        # verify colliding pairs by exact hashed-word Jaccard.
        wide = dedup.minhash_band_keys(
            exact_clean.join(new_docs.select(id_col, text_col), id_col),
            self.num_hashes,
            self.band_size,
            text_col,
            id_col,
        ).cache()
        new_bands = wide.select(
            F.col(id_col), F.posexplode("_keys").alias("band", "band_key")
        )
        store_cand = (
            self.bands(exclude_batch=batch_id)
            .join(
                F.broadcast(
                    new_bands.select(
                        F.col(id_col).alias("_new_id"), "band", "band_key"
                    )
                ),
                ["band", "band_key"],
            )
            .select(F.col("_new_id"), F.col("doc_id").alias("_old_id"))
            .distinct()
        )
        store_pairs = store_cand.join(
            F.broadcast(
                batch.select(F.col(id_col).alias("_new_id"),
                             F.col("word_hashes").alias("_wa"))
            ),
            "_new_id",
        ).join(
            self.docs(exclude_batch=batch_id).select(
                F.col("doc_id").alias("_old_id"),
                F.col("word_hashes").alias("_wb"),
            ),
            "_old_id",
        )
        store_dups = dedup.jaccard_scored(
            store_pairs, self.jaccard_threshold
        ).select(F.col("_new_id").alias(id_col))

        # 3. near dups WITHIN the batch: the corpus-wide candidate join
        # (dedup.band_key_pairs) over the batch's keys, verified, larger
        # id loses. It carries the same hot-bucket star guard: with
        # trigger(availableNow) over a one-file landing area the batch
        # IS the corpus, so one shared band key would otherwise emit
        # O(batch^2) pairs. Here the degradation is amplified: a non-hub
        # doc that dupes a sibling but not the hub is ACCEPTED and seeds
        # every later batch, so stores that need exactness in hot
        # buckets should raise max_bucket. The store probe above needs
        # no guard: the store holds only accepted docs and the batch
        # side is broadcast, so a bucket emits store-bucket-size x
        # batch-collisions rows, never bucket^2.
        batch_pairs = dedup.band_key_pairs(
            wide, id_col, self.num_hashes // self.band_size, self.max_bucket
        ).join(
            batch.select(F.col(id_col).alias("doc_a"), F.col("word_hashes").alias("_wa")),
            "doc_a",
        ).join(
            batch.select(F.col(id_col).alias("doc_b"), F.col("word_hashes").alias("_wb")),
            "doc_b",
        )
        batch_dups = dedup.jaccard_scored(
            batch_pairs, self.jaccard_threshold
        ).select(F.col("doc_b").alias(id_col))  # larger id loses

        # Duplicate ids are harmless: the left-anti join below ignores
        # them.
        rejected_near = store_dups.unionByName(batch_dups)
        # The checkpoint SEVERS the lineage to the store scan: the
        # appends below change what self.docs()/self.bands() read, and a
        # lazy plan re-evaluated afterwards would see the batch's own
        # rows and reject everything as a self-duplicate.
        accepted_meta, n_accepted, _ = checkpoint(
            exact_clean.join(rejected_near, id_col, "left_anti")
        )
        n_near_rejected = n_batch - n_exact_rejected - n_accepted

        # 4. persist survivors' signatures. Transactional batches land
        # in per-batch subdirs with OVERWRITE (a retry replaces its own
        # partial write); legacy mode appends flat files.
        acc_ids = accepted_meta.select(id_col)
        doc_rows = accepted_meta.select(id_col, "content_hash", "word_hashes")
        band_rows = new_bands.join(acc_ids, id_col, "left_semi").select(
            id_col, "band", "band_key"
        )
        if batch_id is not None:
            sub = self._batch_dir(batch_id)
            tag = F.lit(self._batch_key(batch_id)).alias("ingest_batch_key")
            doc_rows.select("*", tag).write.mode("overwrite").parquet(
                f"{self.path}/docs/{sub}"
            )
            band_rows.select("*", tag).write.mode("overwrite").parquet(
                f"{self.path}/bands/{sub}"
            )
        else:
            doc_rows.write.mode("append").parquet(f"{self.path}/docs")
            band_rows.write.mode("append").parquet(f"{self.path}/bands")

        accepted = new_docs.join(acc_ids, id_col, "left_semi")
        report = IngestReport(
            n_batch=n_batch,
            n_exact_rejected=n_exact_rejected,
            n_near_rejected=n_near_rejected,
            n_accepted=n_accepted,
        )
        batch.unpersist()
        wide.unpersist()
        return accepted, report


# ----------------------------------------------------------------------
# Streaming ingestion: the continuous twin of batch ingest.
def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    store: SignatureStore,
    accepted_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    trigger_available_now: bool = True,
    processing_time: str = "5 minutes",
    max_files_per_trigger: int = 16,
    query_name: str | None = None,
):
    """Continuously ingest documents from a parquet landing area:
    every micro-batch runs :meth:`SignatureStore.ingest` (dedup vs the
    whole accepted corpus AND within the batch) and appends survivors
    to ``accepted_dir``.

    The signature store doubles as the streaming state — unbounded
    corpus-lifetime dedup state lives in parquet, not executor memory,
    so this never hits the watermark-bounded-state limitation of
    ``dropDuplicatesWithinWatermark``.

    Failure atomicity: each micro-batch is a transaction. Store rows
    land under per-batch subdirs invisible until the commit marker,
    accepted rows overwrite ``accepted_dir/b<batch_id>/``, and the
    marker is written LAST; a committed batch short-circuits on
    redelivery. A batch that crashed mid-write is recomputed against
    the pre-batch store state (its partial rows are excluded from the
    probe views and overwritten), so at-least-once redelivery emits
    exactly the same accepted set — no silent loss, no half-written
    signatures. Read the accepted corpus with :func:`read_accepted`
    (output is nested one directory per batch).

    Returns the StreamingQuery. ``trigger_available_now=True`` drains
    the landing area and stops (scheduled-batch cadence);
    otherwise micro-batches every ``processing_time``.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )

    def _ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Commit key = CONTENT fingerprint, not the foreachBatch
        # ordinal: after a checkpoint reset, 'batch 0' of the new
        # lineage can bundle already-committed files with brand-new
        # ones, and an ordinal-keyed marker would skip the new files
        # (silent loss). The fingerprint only short-circuits when this
        # exact document set already committed.
        key = store.batch_fingerprint(batch_df)
        if store.is_committed(key):
            # Fully-committed batch redelivered (crash after commit,
            # before the checkpoint advanced): everything — store rows
            # AND accepted rows — is already durable. No-op.
            return
        accepted, _report = store.ingest(batch_df, batch_id=key)
        accepted.write.mode("overwrite").parquet(
            f"{accepted_dir}/{SignatureStore._batch_dir(key)}"
        )
        store.commit_batch(key)

    writer = (
        stream.writeStream.foreachBatch(_ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_accepted(
    spark: SparkSession,
    accepted_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    store: SignatureStore | None = None,
) -> DataFrame:
    """Read the accepted corpus written by :func:`stream_ingest`
    (one subdirectory per committed micro-batch).

    Pass the ingest ``store`` to read COMMITTED batches only: accepted
    rows are written before the commit marker, so after a crash in
    that window an uncommitted subdir can exist whose documents the
    dedup store does not know about — consumers of the corpus must not
    see them (the retry will rewrite the subdir and then commit).
    """
    if store is not None:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(accepted_dir)
        fs = root.getFileSystem(conf)
        if not fs.exists(root):
            return spark.createDataFrame([], schema)
        dirs = [
            st.getPath()
            for st in fs.listStatus(root)
            if st.isDirectory() and st.getPath().getName().startswith("b")
        ]
        keep = [str(p) for p in dirs if store.is_committed(p.getName()[1:])]
        if not keep:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*keep)
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(accepted_dir)
    )
