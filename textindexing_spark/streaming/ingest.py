"""Ingestion pipeline — the reference's Rx dataflow (SURVEY.md 2.9,
Indexer.cs:198-217) as Structured Streaming + checkpointed batch stages.

Reference model -> Spark model:

  F1 merge(bulk scan, change watch)  -> one streaming source over the
                                        pages directory; the initial files
                                        are the bulk scan, later files are
                                        the change stream
  F2 Buffer(0.5 s / 50 docs)         -> micro-batch trigger (availableNow
                                        for tests, processingTime live)
  F3 changes.Distinct() per buffer   -> last-wins per url by warc_ts
                                        within each micro-batch
  F4 max 8 concurrent merges         -> shuffle partitions
  F5 progress counters               -> IngestMetrics (found/indexed/
                                        deleted/failed per batch)
  F7 start/stop + resume             -> streaming checkpointLocation +
                                        versioned store commits
  P7 per-doc failure quarantine      -> null/undecodable text rows land in
                                        a quarantine table, never abort

Each micro-batch is an upsert with Index.merge semantics: re-crawled urls
replace their postings, empty text deletes (SURVEY.md 1.4.2). Each
ingestor commits to one store: an LSM delta in a BucketedIndexStore, or a
shard-local upsert published as a new segment version. A crash between
batches resumes from the streaming checkpoint and the last committed
version.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.config import IndexConfig
from textindexing_spark.sources.catalog import (VersionedPositionalStore,
                                                VersionedSegmentStore)
from textindexing_spark.sources.pages import PAGES_SCHEMA


@dataclass
class IngestMetrics:
    """≙ the reference's DocumentsFound/Parsed/Failed counters
    (Indexer.cs:122-168)."""

    batches: int = 0
    docs_found: int = 0
    docs_indexed: int = 0
    docs_failed: int = 0
    versions: list[int] = field(default_factory=list)


def doc_ids_for(pages: DataFrame, id_expr: str = "xxhash64(url)") -> DataFrame:
    """Stateless surrogate doc_id per url (default xxhash64(url)) —
    fine for one-shot/demo corpora and tests. A 64-bit hash collides
    near 5e9 urls, so the INGEST paths use the persistent dense-id
    dimension instead (sources/urlids.UrlIdTable), which is
    collision-free at any scale."""
    return pages.withColumn("doc_id", F.expr(id_expr))


def dedup_last_wins(batch: DataFrame) -> DataFrame:
    """F3: a url crawled twice within one micro-batch indexes once, the
    newest warc_ts wins (row_number desc ≙ Distinct()-per-buffer with
    upsert ordering). Ties on warc_ts (same-second recrawls) break on a
    content hash — warc_ts alone leaves the winner nondeterministic,
    and the multiple actions over one batch could each pick a DIFFERENT
    winner (index one version, count/quarantine another)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc(),
                                     F.xxhash64("text").desc())
    return (batch.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1").drop("_rn"))


class StreamingIngestor:
    """Continuously maintained index over a growing pages directory, kept
    in a BucketedIndexStore: each micro-batch is an O(batch) LSM delta
    commit, and compaction rewrites only the term/doc buckets it
    touches."""

    def __init__(self, spark, index_root: str,
                 cfg: IndexConfig | None = None,
                 quarantine_path: str | None = None,
                 n_term_buckets: int = 64, n_doc_buckets: int = 64,
                 compact_every: int | None = None,
                 transform=None):
        from textindexing_spark._pkg import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.index_root = index_root
        self.cfg = cfg or IndexConfig()
        self.compact_every = compact_every
        # curation-in-stream hook: DataFrame -> DataFrame over each
        # batch's readable pages BEFORE id assignment/indexing (e.g.
        # quality.redact_pii, or a filter over repetition_signals).
        # Rows the transform DROPS are skipped, not tombstoned — a
        # previously indexed url whose recrawl now fails the filter
        # keeps its old version; pair with reconcile_deletes or emit
        # empty-text tombstones from the transform to remove instead.
        self.transform = transform
        self.store = self._open_store(n_term_buckets, n_doc_buckets)
        self.quarantine_path = quarantine_path or f"{index_root}/_quarantine"
        from textindexing_spark.sources.urlids import UrlIdTable

        # collision-free dense doc ids, persisted beside the index so a
        # url keeps its id across batches/restarts
        self.url_ids = UrlIdTable(spark, f"{index_root}/_urlmap")
        self.metrics = IngestMetrics()

    def _open_store(self, n_term_buckets: int, n_doc_buckets: int):
        from textindexing_spark.sources.bucketed import BucketedIndexStore

        return BucketedIndexStore(
            self.spark, self.index_root, self.cfg,
            n_term_buckets=n_term_buckets, n_doc_buckets=n_doc_buckets)

    def _version(self) -> int:
        """The store's latest committed version, 0 before the first."""
        return self.store.latest_version() or 0

    # -- batch core (shared by streaming + manual batch ingest) -----------

    def process_batch(self, batch: DataFrame, epoch_id: int = 0) -> int:
        """Upsert one micro-batch into the index; returns new version.

        The deduplicated rows are pinned (persisted) for the call: id
        assignment, the merge and the indexed count read one evaluation
        of the dedup window instead of re-running it. The counts are two
        aggregates, four jobs: found + failed over the batch, indexed
        over the pinned rows. The raw batch is not pinned: a persisted
        frame's first action adds a cache-fill job, and the batch is
        only read twice (the first aggregate and the pinning scan)."""
        from pyspark import StorageLevel

        self.metrics.batches += 1
        n_found, n_bad = batch.agg(
            F.count("*"), F.count_if(F.col("url").isNull())).first()
        self.metrics.docs_found += n_found
        if n_found == 0:
            return self._version()
        # P7 quarantine FIRST: rows whose content is unreadable are
        # isolated, the rest of the batch proceeds (Indexer.cs:259-265).
        # Quarantine must precede dedup — dedup's window groups all
        # NULL urls into ONE partition and keeps one row, which would
        # silently discard every other failed row in the batch instead
        # of recording it
        if n_bad:
            self.metrics.docs_failed += n_bad
            (batch.where(F.col("url").isNull())
                .withColumn("error", F.lit("null url"))
                .write.mode("append").parquet(self.quarantine_path))
        good = dedup_last_wins(batch.where(F.col("url").isNotNull()))
        if self.transform is not None:
            good = self.transform(good)
        good = good.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            docs = (self.url_ids.assign(good)
                    .select("doc_id",
                            F.coalesce("text", F.lit("")).alias("text")))
            v = self._merge_docs(docs)
            if self.compact_every and \
                    self.metrics.batches % self.compact_every == 0 and \
                    hasattr(self.store, "compact"):
                v = self.store.compact()
            # indexed = docs that actually entered the index: empty-text
            # rows are tombstones (deletes), not indexed documents.
            # assign() gives each row one id, so the pinned rows count
            # the same docs
            self.metrics.docs_indexed += good.agg(F.count_if(
                F.coalesce("text", F.lit("")) != "")).first()[0]
        finally:
            good.unpersist()
        self.metrics.versions.append(v)
        return v

    def _merge_docs(self, docs: DataFrame) -> int:
        """Commit one docs(doc_id, text) batch with upsert semantics."""
        return self.store.commit_merge(docs)

    def reconcile_deletes(self, source_dir: str) -> int:
        """Delete detection for the watch loop: documents whose url is no
        longer present in the source's CURRENT listing are tombstoned out
        of the index — the reconciliation twin of the reference watcher's
        Deleted events (FileSystemDocumentSource.cs:120-140; a Renamed
        event ≙ this delete plus the new url arriving through the normal
        change stream, DirectoryDocumentSource.cs:81-93). Returns the new
        version (or the current one if nothing vanished)."""
        live = (self.spark.read.schema(PAGES_SCHEMA).parquet(source_dir)
                .select("url").distinct())
        idx = self.index()
        if idx is None:
            return 0
        indexed = (idx.documents_df().select("doc_id")
                   .join(self.url_ids.mapping(), "doc_id"))
        gone = (indexed.join(live, "url", "left_anti")
                .select("doc_id", F.lit("").alias("text")))
        n_gone = gone.count()
        if n_gone == 0:
            return self._version()
        v = self._merge_docs(gone)
        self.metrics.versions.append(v)
        return v

    def reconcile_directory(self, root: str, pattern: str = "*",
                            recursive: bool = True,
                            default_encoding: str = "utf-8",
                            content_hash: bool = False) -> int:
        """Changed- and deleted-file detection for the REAL-directory
        watch (≙ the reference watcher's Changed/Deleted events,
        FileSystemDocumentSource.cs:120-140): Spark's streaming file
        source keys seen files by PATH and never re-emits an in-place
        overwrite, so a periodic (url, mtime, length) listing reconcile
        closes the gap — files whose fingerprint moved re-index through
        the normal batch path (same BOM/encoding decode as the bulk
        phase), files that vanished tombstone out. Returns the new index
        version (or the current one when nothing changed).

        State: the previous listing persists at
        ``{index_root}/_filestate``; the first call records it without
        re-indexing (the stream already delivered those files). Only
        CHANGED paths are re-read — via an explicit path list, never a
        directory rescan — so a reconcile pass costs O(listing) + O(Δ).

        ``content_hash=True`` extends the fingerprint with xxhash64 over
        each file's bytes, catching overwrites that preserve both mtime
        and length — at O(corpus bytes) per reconcile instead of
        O(listing). Pick ONE mode per watch loop: an unhashed pass
        rewrites the state without hashes, so the next hashed pass has
        no baseline to compare against (it falls back to mtime/length
        for that one pass and records hashes for the following ones).
        Without hashing, an equal-mtime equal-length overwrite is
        invisible; the watcher's event granularity needs OS hooks Spark
        does not have.
        """
        from textindexing_spark.sources.files import (list_directory,
                                                      read_paths)

        state_path = f"{self.index_root}/_filestate"
        cur = (list_directory(self.spark, root, pattern, recursive,
                              with_hash=content_hash)
               .select("url", F.col("warc_ts").alias("mtime"), "n_bytes",
                       *(["content_hash"] if content_hash else [])))
        # pin the listing: the diff job and the state write below must
        # see the SAME snapshot — an uncached listing re-lists at each
        # action, and a file overwritten between the diff and the state
        # write would get its new fingerprint recorded without ever
        # being re-indexed (a permanently lost update). With
        # content_hash the cache additionally makes the diff and the
        # write share one pass over the corpus bytes.
        cur = cur.cache()
        try:
            prev = self.spark.read.parquet(state_path)
        except Exception:
            prev = None
        v = self._version()
        if prev is not None:
            moved = ((F.col("c.mtime") != F.col("p.mtime"))
                     | (F.col("c.n_bytes") != F.col("p.n_bytes")))
            if content_hash and "content_hash" in prev.columns:
                moved = moved | (F.col("c.content_hash")
                                 != F.col("p.content_hash"))
            changed = (cur.alias("c")
                       .join(prev.alias("p"), "url")
                       .where(moved)
                       .select("url"))
            # the changed set is USUALLY a small delta, but a mass
            # mtime sweep (backup restore, chown -R, touch) marks the
            # whole corpus as moved — stream the paths in bounded
            # chunks instead of one driver-resident list, and re-index
            # each chunk as its own batch
            chunk, chunk_size = [], 50_000
            for r in changed.toLocalIterator():
                chunk.append(r["url"][len("file://"):])
                if len(chunk) >= chunk_size:
                    v = self.process_batch(
                        read_paths(self.spark, chunk, default_encoding))
                    chunk = []
            if chunk:
                v = self.process_batch(
                    read_paths(self.spark, chunk, default_encoding))
            # delete side: indexed urls under this listing that vanished
            gone = (prev.join(cur.select("url"), "url", "left_anti")
                    .join(self.url_ids.mapping(), "url")
                    .select("doc_id", F.lit("").alias("text")))
            if gone.count():
                v = self._merge_docs(gone)
                self.metrics.versions.append(v)
        # record the current fingerprints LAST (after every read above
        # has materialized — the state write must not feed itself)
        cur.write.mode("overwrite").parquet(state_path)
        cur.unpersist()
        return v

    # -- streaming lifecycle (F7: idempotent start/stop) -------------------

    def start(self, source_dir: str, checkpoint_dir: str,
              available_now: bool = True, processing_time: str = "500 milliseconds"):
        """Start the streaming query over a pages parquet directory — or
        any pages-shaped streaming DataFrame passed in its place (e.g.
        ``sources.files.stream_directory`` for a raw text-file directory,
        the FileSystemWatcher twin). availableNow=True drains what exists
        and stops (test mode); False keeps watching
        (≙ WatchForChangedDocuments)."""
        if isinstance(source_dir, DataFrame):
            stream = source_dir
        else:
            stream = (self.spark.readStream.schema(PAGES_SCHEMA)
                      .parquet(source_dir))
        writer = (stream.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def ingest_available(self, source_dir: str, checkpoint_dir: str) -> None:
        """Drain all currently-available files and stop (bulk-scan phase;
        re-calling later picks up only NEW files — the change stream)."""
        q = self.start(source_dir, checkpoint_dir, available_now=True)
        q.awaitTermination()

    def index(self):
        return self.store.load()


class StreamingSegmentIngestor(StreamingIngestor):
    """Continuously-maintained COMPRESSED segment index: every micro-batch
    is a shard-local upsert (SegmentIndex.upsert — only shards that
    received batch docs rewrite) committed as a new immutable version.
    This is the scale-path twin of StreamingIngestor: identical F1-F8 /
    P7 semantics, but per-batch cost is O(touched shards), not a logical
    rebuild."""

    store_class = VersionedSegmentStore

    def __init__(self, spark, index_root: str,
                 cfg: IndexConfig | None = None,
                 quarantine_path: str | None = None,
                 n_shards: int = 64, transform=None):
        super().__init__(spark, index_root, cfg, quarantine_path,
                         transform=transform)
        self.n_shards = n_shards

    # batch pipeline (quarantine -> dedup -> transform -> id assign ->
    # merge) is inherited from StreamingIngestor — a prior copy-paste
    # override let the two paths drift (the parent's quarantine-order
    # fix and compact hook did not apply here)

    def _open_store(self, *_buckets):
        return self.store_class(self.spark, self.index_root, self.cfg)

    def _build(self, docs: DataFrame):
        from textindexing_spark.operators.bm25 import (
            build_segments_from_docs)

        return build_segments_from_docs(self.spark, docs, self.cfg,
                                        n_shards=self.n_shards)

    def _merge_docs(self, docs: DataFrame) -> int:
        # read-modify-write of one exact version: the commit is a
        # compare-and-set against it, so a writer that raced this one
        # fails loudly instead of publishing a version built without
        # the other writer's batch
        prev = self.store.latest_version()
        new_idx = (self._build(docs) if prev is None
                   else self.store.load(prev).upsert(docs))
        try:
            return self.store.commit(new_idx, expect_prev=prev)
        finally:
            # the fused frame was MEMORY_AND_DISK-persisted inside the
            # build/upsert; once committed to parquet it must leave the
            # cache or a long-running stream leaks one full index copy
            # per micro-batch
            new_idx.unpersist()


class StreamingPositionalIngestor(StreamingSegmentIngestor):
    """Continuously-maintained COMPRESSED POSITIONAL index (phrase
    tier): identical F1-F8 / P7 micro-batch semantics to the other
    ingestors, with per-batch cost O(touched doc shards) via
    ``PositionalSegmentIndex.upsert`` — the streaming completion of the
    round-3 phrase extension."""

    store_class = VersionedPositionalStore

    def _build(self, docs: DataFrame):
        from textindexing_spark.operators.phrase import (
            PositionalSegmentIndex)

        return PositionalSegmentIndex.build(
            self.spark, docs, self.cfg, n_shards=self.n_shards)
