"""IngestorSet — operator F8: a registry of (source, parser) pairs
maintaining ONE shared index (reference: Indexing/IndexerSet.cs:60-163).

Reference semantics mirrored exactly:

- ``add`` rejects a source already in the set
  (IndexerSet.cs:93-99 "Source is already included in this IndexerSet");
- each source can carry its OWN parser/tokenizer config
  (≙ per-Indexer ITextParser, IndexerSet.cs:118-133) while all sources
  merge into the same index;
- ``remove`` = stop indexing + purge that source's documents from the
  shared index via delete-by-predicate (A3)
  (IndexerSet.cs:148-163 -> Indexer.RemoveFromIndex).

Spark shape: every source is a StreamingIngestor over its own pages
directory with its own streaming checkpoint, all committing into one
BucketedIndexStore (LSM delta merges) and one UrlIdTable at
``index_root`` — state is shared through the store, so sources can
drain independently. Each micro-batch additionally appends its url set
to the source's PROVENANCE table; ``remove`` purges the source's urls
minus any url still provided by another live source.

Document identity is configurable (``identity=``):

- ``"url"`` (default): the url is GLOBAL document identity — a url fed
  by two sources is ONE document (sensible for a crawl corpus; the
  provenance anti-joins keep removal correct). This is a deliberate,
  documented deviation from the reference.
- ``"per_source"``: exact reference parity — a document is keyed by
  (source, url) (≙ per-Indexer sources + DocumentInfo(source, id),
  IndexerSet.cs:118-133, Documents/DocumentInfo.cs:60-65). The same
  url fed by two sources indexes as TWO documents; ``remove(source)``
  purges exactly that source's documents with a prefix predicate (no
  cross-source provenance reasoning needed, ≙ Indexer.RemoveFromIndex
  dropping one Indexer's documents). Identity keys are
  ``source_key + "\\x1f" + url``; ``split_identity`` recovers
  (source, url) columns for display."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from textindexing_spark.config import IndexConfig
from textindexing_spark.streaming.ingest import StreamingIngestor

#: separator between source key and url in ``identity="per_source"``
#: composite keys (US, "unit separator": cannot appear in a valid url)
IDENTITY_SEP = "\x1f"


def split_identity(df, url_col: str = "url"):
    """Split per-source composite identity keys back into (source, url)
    columns for display/export. Rows without a separator (global-identity
    keys) get source=NULL and the url passed through unchanged."""
    has_sep = F.col(url_col).contains(IDENTITY_SEP)
    return df.withColumn(
        "source",
        F.when(has_sep, F.substring_index(url_col, IDENTITY_SEP, 1))
    ).withColumn(
        url_col,
        F.when(has_sep, F.substring_index(url_col, IDENTITY_SEP, -1))
         .otherwise(F.col(url_col)))


class _SourceIngestor(StreamingIngestor):
    """StreamingIngestor that records each batch's urls in the source's
    provenance table before merging (append-only, url column), and — in
    per-source identity mode — rewrites urls to composite
    (source, url) keys before they reach the id dimension."""

    def __init__(self, spark, index_root, cfg, prov_path,
                 identity_prefix: str | None = None, **kw):
        super().__init__(spark, index_root, cfg, **kw)
        self.prov_path = prov_path
        self.identity_prefix = identity_prefix  # None = global-url mode

    def process_batch(self, batch, epoch_id: int = 0) -> int:
        if self.identity_prefix is not None:
            batch = batch.withColumn(
                "url",
                F.when(F.col("url").isNotNull(),
                       F.concat(F.lit(self.identity_prefix), F.col("url")))
            )
        (batch.select("url").where(F.col("url").isNotNull()).distinct()
         .coalesce(1).write.mode("append").parquet(self.prov_path))
        return super().process_batch(batch, epoch_id)

    def reconcile_deletes(self, source_dir: str) -> int:
        """Per-source identity guard: the base implementation compares
        RAW listing urls against the indexed identity keys — with
        composite keys that anti-join would call every document in the
        whole store vanished and tombstone other sources' documents.
        Compose the listing into this source's namespace and restrict
        the indexed side to it instead."""
        if self.identity_prefix is None:
            return super().reconcile_deletes(source_dir)
        from textindexing_spark.sources.pages import PAGES_SCHEMA

        live = (self.spark.read.schema(PAGES_SCHEMA).parquet(source_dir)
                .select(F.concat(F.lit(self.identity_prefix),
                                 F.col("url")).alias("url")).distinct())
        idx = self.index()
        if idx is None:
            return 0
        # join the index's CURRENT documents (not the append-only id
        # mapping, whose rows outlive deletion — using it here would
        # re-detect every vanished url forever and commit a redundant
        # tombstone version on each reconcile tick)
        indexed = (idx.documents_df().select("doc_id")
                   .join(self.url_ids.mapping(), "doc_id")
                   .where(F.col("url").startswith(self.identity_prefix)))
        gone = (indexed.join(live, "url", "left_anti")
                .select("doc_id", F.lit("").alias("text")))
        if gone.limit(1).count():
            v = self._merge_docs(gone)
            self.metrics.versions.append(v)
            return v
        return self._version()


class IngestorSet:
    """Multiple document sources, one shared index (≙ IndexerSet)."""

    def __init__(self, spark, index_root: str,
                 cfg: IndexConfig | None = None,
                 n_term_buckets: int = 64, n_doc_buckets: int = 64,
                 identity: str = "url"):
        if identity not in ("url", "per_source"):
            raise ValueError("identity must be 'url' or 'per_source'")
        self.spark = spark
        self.index_root = index_root
        self.cfg = cfg or IndexConfig()  # ≙ DefaultTextParser
        self._buckets = (n_term_buckets, n_doc_buckets)
        self.identity = identity
        self._sources: dict[str, _SourceIngestor] = {}

    def _key(self, source_dir: str) -> str:
        return source_dir.rstrip("/")

    @property
    def sources(self) -> list[str]:
        return sorted(self._sources)

    def add(self, source_dir: str,
            cfg: IndexConfig | None = None) -> _SourceIngestor:
        """Register a source with an optional source-specific parser
        config; raises if the source is already in the set
        (IndexerSet.cs:96-99)."""
        key = self._key(source_dir)
        if key in self._sources:
            raise ValueError(
                "Source is already included in this IndexerSet: " + key)
        digest = hashlib.sha256(key.encode()).hexdigest()[:16]
        prefix = (key + IDENTITY_SEP if self.identity == "per_source"
                  else None)
        ing = _SourceIngestor(
            self.spark, self.index_root, cfg or self.cfg,
            prov_path=f"{self.index_root}/_prov/{digest}",
            identity_prefix=prefix,
            n_term_buckets=self._buckets[0],
            n_doc_buckets=self._buckets[1])
        ing.source_dir = key
        ing.checkpoint_dir = f"{self.index_root}/_ck/{digest}"
        self._sources[key] = ing
        return ing

    def drain(self, source_dir: str | None = None) -> None:
        """Ingest everything currently available from one source (or all)
        — initial add = bulk scan, later drains = the change stream
        (per-source streaming checkpoints)."""
        keys = [self._key(source_dir)] if source_dir else list(self._sources)
        for k in keys:
            if k not in self._sources:
                raise ValueError(f"unknown source: {k} (add() it first)")
            ing = self._sources[k]
            ing.ingest_available(ing.source_dir, ing.checkpoint_dir)

    def remove(self, source_dir: str) -> None:
        """Drop a source: its documents vanish from the shared index
        (purge via tombstone merge ≙ RemoveFromIndex/A3). Removing an
        unknown source does nothing (IndexerSet.cs:152-155).

        In per-source identity mode the purge is a pure prefix predicate
        over the id dimension — no other source can own this source's
        composite keys, exactly the reference's "drop one Indexer's
        documents" semantics."""
        key = self._key(source_dir)
        # deregister only AFTER the purge commits: popping first would
        # make a failed commit (e.g. ConcurrentWriterError from a racing
        # drain) unretryable — remove() on an unknown source is a no-op,
        # so the source's documents would stay indexed forever
        ing = self._sources.get(key)
        if ing is None:
            return
        if self.identity == "per_source":
            # restrict the prefix-filtered mapping to docs CURRENTLY in
            # the index — the mapping is append-only, so its rows
            # outlive deletion (reconcile/empty-text upserts), and
            # tombstoning them again would commit a redundant version
            # even for a fully-purged source (same rule as
            # reconcile_deletes above)
            tombstones = (ing.url_ids.mapping()
                          .where(F.col("url").startswith(
                              key + IDENTITY_SEP))
                          .select("doc_id", F.lit("").alias("text")))
            idx = ing.index()
            if idx is not None:
                tombstones = tombstones.join(
                    idx.documents_df().select("doc_id"), "doc_id",
                    "left_semi")
                if tombstones.limit(1).count():
                    ing.store.commit_merge(tombstones)
            self._sources.pop(key, None)
            return
        try:
            prov = (self.spark.read.schema("url string")
                    .parquet(ing.prov_path).distinct())
        except Exception:
            # source registered but never drained: nothing indexed
            self._sources.pop(key, None)
            return
        # keep urls still provided by another live source
        for other in self._sources.values():
            if other is ing:
                continue
            try:
                o = (self.spark.read.schema("url string")
                     .parquet(other.prov_path))
            except Exception:
                continue  # source registered but never drained
            prov = prov.join(o, "url", "left_anti")
        # read-only id lookup: assign() would MINT fresh ids for urls that
        # have a provenance row but never reached the id table (possible
        # when a provenance append landed but the merge crashed before
        # committing) — the inner join drops such unmapped urls instead.
        # The current-documents restriction makes a retried remove()
        # idempotent: the append-only mapping outlives deletion.
        tombstones = (prov.join(ing.url_ids.mapping(), "url")
                      .select("doc_id", F.lit("").alias("text")))
        tombstones = self._only_current(ing, tombstones)
        if tombstones.limit(1).count():
            ing.store.commit_merge(tombstones)
        self._sources.pop(key, None)

    @staticmethod
    def _only_current(ing, tombstones):
        """Restrict tombstone candidates to docs CURRENTLY in the index.
        The id mapping is append-only (rows outlive deletion), so an
        unrestricted lookup would re-detect every vanished url on every
        reconcile tick and commit a redundant tombstone version forever
        — the same guard the per-source override documents."""
        idx = ing.index()
        if idx is None:
            return tombstones
        return tombstones.join(idx.documents_df().select("doc_id"),
                               "doc_id", "left_semi")

    def reconcile(self, source_dir: str) -> None:
        """Registry-aware delete detection: tombstone documents whose url
        vanished from THIS source's current listing — unless another
        live source's CURRENT LISTING still provides the url. The
        multi-source completion of the watcher's Deleted events
        (FileSystemDocumentSource.cs:120-140).

        The keep-check reads the other sources' listings, not their
        provenance tables: provenance is append-only, so a url deleted
        from EVERY source would sit in each source's provenance and a
        provenance anti-join could never tombstone it from anywhere."""
        from textindexing_spark.sources.pages import PAGES_SCHEMA

        key = self._key(source_dir)
        ing = self._sources[key]
        if self.identity == "per_source":
            # identities are namespaced per source, so the source-local
            # override is already registry-correct: other sources cannot
            # interfere by construction
            ing.reconcile_deletes(ing.source_dir)
            return
        try:
            prov = (self.spark.read.schema("url string")
                    .parquet(ing.prov_path).distinct())
        except Exception:
            return  # never drained: nothing indexed from this source
        live = (self.spark.read.schema(PAGES_SCHEMA)
                .parquet(ing.source_dir).select("url").distinct())
        gone = prov.join(live, "url", "left_anti")
        for other in self._sources.values():
            if other is ing:
                continue
            try:
                o = (self.spark.read.schema(PAGES_SCHEMA)
                     .parquet(other.source_dir).select("url"))
            except Exception:
                continue  # empty/unreadable listing provides nothing
            gone = gone.join(o, "url", "left_anti")
        # read-only lookup (see remove()): never mint ids for vanished
        # urls; current-documents restriction keeps reconcile idempotent
        tombstones = (gone.join(ing.url_ids.mapping(), "url")
                      .select("doc_id", F.lit("").alias("text")))
        tombstones = self._only_current(ing, tombstones)
        if tombstones.limit(1).count():
            ing.store.commit_merge(tombstones)

    def index(self):
        """The shared index (latest committed version)."""
        if self._sources:
            return next(iter(self._sources.values())).index()
        # registry may be empty (all sources removed): read the store
        from textindexing_spark.sources.bucketed import BucketedIndexStore

        return BucketedIndexStore(
            self.spark, self.index_root, self.cfg,
            n_term_buckets=self._buckets[0],
            n_doc_buckets=self._buckets[1]).load()
