"""Bucketed + LSM-delta boolean index store — the O(delta) incremental
merge path for operator A1 (incremental).

The reference's merge walks only the dictionary entries affected by the
merged document (merge-join over sorted terms, ImmutableIndex.cs:130-176);
everything else is structurally shared between the old and new immutable
index. At lake scale that translates to TWO mechanisms, both here:

1. **Delta commits (LSM).** A merge batch is written as a small *delta*:
   its tombstone set (the batch's doc ids — they override every older
   appearance), its token table, and its documents rows. NOTHING of the
   base index is rewritten — per-batch cost is O(batch), independent of
   corpus size. Deltas are size-tiered like LSM levels / Lucene segments:
   when a new delta is at least half the size of the previous one the two
   merge (cost = their combined size), so a long stream keeps at most
   O(log total) deltas alive and per-batch cost stays amortized O(batch
   * log). Readers resolve base + deltas lazily with last-wins-per-doc
   semantics; term lookups still push the term filter into the base's
   term-bucketed parquet.

2. **Bucket-level copy-on-write compaction.** ``compact()`` (or
   ``commit_merge(mode="rewrite")``) folds deltas into the base, which is
   partitioned into ``n_term_buckets`` hash buckets of the term — the
   unit of rewrite — plus a doc-bucketed forward table (doc_id, term, tf)
   that answers "which terms did these docs have BEFORE the merge"
   without scanning the index. Only buckets owning affected terms / docs
   are rewritten; every untouched bucket's files carry into the new
   manifest unchanged (byte-identical) — the parquet stand-in for
   Iceberg's MERGE INTO file-level copy-on-write.

Versions are manifests (v{N}.json mapping bucket -> directory, plus the
delta list) published through the store's VersionLog
(sources/versionlog.py: an atomic LATEST pointer swap ≙ the reference's
state-pointer swap, ImmutableIndex.cs:92-96). Merge
semantics are exactly ``Index.merge`` (IIndex.cs:116-119): a re-merged
doc REPLACES its postings, an empty token set DELETES the doc, emptied
terms disappear — gated by the streaming==bulk equivalence tests plus
randomized merge-sequence equivalence (test_pipeline.py).

Concurrency contract: SINGLE WRITER (matching the reference's
write-locked merge, ImmutableIndex.cs:98-106) — and the contract is
ENFORCED: every commit records the manifest version it read and
publishes with the log's compare-and-set, so a second writer that raced
the first fails loudly with ConcurrentWriterError (replay on the new
version) instead of silently clobbering the pointer; its orphaned data
dirs are reclaimed by vacuum. Readers are always safe: they pin an
immutable manifest.

At 100 TB: bucket count scales with the corpus (constant bucket size);
per-batch cost depends only on batch size and tier count; compaction is
a scheduled maintenance job (Lucene's background segment merging), not a
per-batch tax.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.config import IndexConfig
from textindexing_spark.operators.query import Index
from textindexing_spark.sources.versionlog import (  # noqa: F401
    ConcurrentWriterError, VersionLog)

POSTINGS_DDL = ("term string, df bigint, total_tf bigint, "
                "postings array<struct<doc_id:bigint,tf:int>>")
TOKENS_DDL = "doc_id bigint, term string, tf int"
DOCS_DDL = "doc_id bigint, doc_len bigint"
IDS_DDL = "doc_id bigint"

_TABLES = ("postings", "doc_tokens", "documents")


def read_dirs(spark, paths: list[str], ddl: str) -> DataFrame:
    """Read the parquet dirs a manifest references (empty table for
    none). A referenced dir that no longer exists is CORRUPTION (e.g. a
    mis-timed vacuum), not an empty table: skipping it would make whole
    buckets of a store vanish from query results with no error."""
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise ValueError(
            f"manifest references missing data dirs {missing}; "
            "the store is corrupt (vacuumed while a reader or an "
            "uncommitted writer held this version?)")
    if not paths:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*paths)


class BucketedIndexStore:
    """Snapshot-versioned boolean index with O(batch) delta commits and
    bucket-level copy-on-write compaction: latest_version / versions /
    load -> Index, plus ``commit_merge`` which IS the merge — there is
    no full-index rewrite anywhere on this path."""

    def __init__(self, spark, root: str, cfg: IndexConfig | None = None,
                 n_term_buckets: int = 64, n_doc_buckets: int = 64):
        from textindexing_spark._pkg import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.root = root
        self.cfg = cfg or IndexConfig()
        self.n_term_buckets = n_term_buckets
        self.n_doc_buckets = n_doc_buckets
        self.log = VersionLog(root)

    # -- bucket functions (must stay stable across versions) --------------

    def _term_bucket(self):
        return F.pmod(F.xxhash64("term"),
                      F.lit(self.n_term_buckets)).cast("int")

    def _doc_bucket(self):
        return F.pmod(F.xxhash64("doc_id"),
                      F.lit(self.n_doc_buckets)).cast("int")

    # -- version bookkeeping ----------------------------------------------

    def latest_version(self) -> int | None:
        return self.log.latest()

    def versions(self) -> list[int]:
        return self.log.versions()

    def manifest(self, version: int | None = None) -> dict | None:
        m = self.log.manifest(version)
        if m is not None:
            m.setdefault("deltas", [])
        return m

    # -- readers ----------------------------------------------------------

    def _read(self, paths: list[str], ddl: str) -> DataFrame:
        return read_dirs(self.spark, paths, ddl)

    def load(self, version: int | None = None) -> Index:
        """Resolved view of a version: base plus deltas, last-wins-per-doc.
        With no deltas this is the raw term-bucketed parquet; with deltas,
        a lazy merge whose term filter still pushes into the base scan
        (term is the grouping key, so lookup predicates travel through
        the aggregation, union, and explode down to parquet)."""
        m = self.manifest(version)
        if m is None:
            from textindexing_spark.sources.catalog import empty_index

            return empty_index(self.spark, self.cfg)
        base_postings = self._read(list(m["postings"].values()),
                                   POSTINGS_DDL)
        base_docs = self._read(list(m["documents"].values()), DOCS_DDL)
        if not m["deltas"]:
            return Index(self.spark, base_postings, base_docs, self.cfg)

        from textindexing_spark.operators.build import postings_from_tokens

        # resolve newest-to-oldest: rows of delta i survive unless a LATER
        # delta's tombstones (cumulative ``later``) override them; base
        # rows survive unless any delta overrides them
        later = None
        tok_parts, doc_parts = [], []
        for d in reversed(m["deltas"]):
            dt = self._read([f"{d['dir']}/doc_tokens"], TOKENS_DDL)
            dd = self._read([f"{d['dir']}/documents"], DOCS_DDL)
            if later is not None:
                dt = dt.join(F.broadcast(later), "doc_id", "left_anti")
                dd = dd.join(F.broadcast(later), "doc_id", "left_anti")
            tok_parts.append(dt)
            doc_parts.append(dd)
            t = self._read([f"{d['dir']}/tombstones"], IDS_DDL)
            later = t if later is None else later.unionByName(t).distinct()
        base_tok = (base_postings
                    .select("term", F.explode("postings").alias("p"))
                    .select(F.col("p.doc_id").alias("doc_id"), "term",
                            F.col("p.tf").alias("tf"))
                    .join(F.broadcast(later), "doc_id", "left_anti"))
        all_tok = reduce(DataFrame.unionByName, tok_parts + [base_tok])
        documents = reduce(
            DataFrame.unionByName,
            doc_parts + [base_docs.join(F.broadcast(later), "doc_id",
                                        "left_anti")])
        # the view re-aggregates lazily per query: skip the salting
        # df pre-pass (it doubles the scan lineage and only matters for
        # full materializations, which compaction handles with salting)
        from dataclasses import replace

        view_cfg = replace(self.cfg, salt_df_threshold=0)
        return Index(self.spark, postings_from_tokens(all_tok, view_cfg),
                     documents, self.cfg)

    # -- merge: O(batch) delta commit --------------------------------------

    def commit_merge(self, docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", mode: str = "delta") -> int:
        """Merge a document batch (Index.merge semantics) into a NEW
        version. mode='delta' (default) appends an LSM delta and
        size-tier-merges — O(batch) amortized, base untouched.
        mode='rewrite' folds the batch straight into the term buckets,
        rewriting only the buckets it touches."""
        from pyspark import StorageLevel

        from textindexing_spark.operators.build import (
            document_lengths, tokenize_documents)

        # read the version pointer FIRST, then that exact version's
        # manifest: reading them the other way round (manifest() = the
        # current LATEST, then latest_version() again for the CAS) is a
        # TOCTOU hole — a writer landing between the two reads would
        # make this commit's CAS succeed against a manifest it never
        # read, silently dropping that writer's batch
        prev_v = self.latest_version()
        prev = (self.manifest(prev_v) if prev_v is not None else None) \
            or {**{t: {} for t in _TABLES}, "deltas": []}
        if mode == "rewrite" and prev["deltas"]:
            # deltas are NEWER than the base; folding a still-newer batch
            # under them would invert last-wins — flush them first
            self.compact()
            prev_v = self.latest_version()
            prev = self.manifest(prev_v)
        v = (prev_v or 0) + 1
        vdir = self.log.attempt_dir(v)
        new_tokens = (tokenize_documents(docs, self.cfg, id_col=id_col,
                                         text_col=text_col)
                      .persist(StorageLevel.MEMORY_AND_DISK))
        batch_ids = (docs.select(F.col(id_col).alias("doc_id")).distinct()
                     .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            if mode == "rewrite":
                man = self._fold_into_buckets(prev, new_tokens, batch_ids,
                                              vdir)
                man["deltas"] = list(prev["deltas"])
                return self.log.publish(v, prev_v, man)

            ddir = f"{vdir}/delta"
            n_docs = self._write_delta(ddir, batch_ids, new_tokens,
                                       document_lengths(new_tokens))
            deltas = list(prev["deltas"]) + [{"dir": ddir, "n_docs": n_docs}]
            deltas = self._tier_merge(deltas, vdir)
            man = {t: dict(prev[t]) for t in _TABLES}
            man["deltas"] = deltas
            return self.log.publish(v, prev_v, man)
        finally:
            new_tokens.unpersist()
            batch_ids.unpersist()

    def _write_delta(self, ddir: str, tombstones: DataFrame,
                     doc_tokens: DataFrame, documents: DataFrame) -> int:
        """Write one delta (tombstones + token/doc tables). Deltas are
        micro-batch-sized: single-file writes, no shuffle."""
        (tombstones.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/tombstones"))
        (doc_tokens.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/doc_tokens"))
        (documents.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/documents"))
        return documents.count()

    def _tier_merge(self, deltas: list[dict], vdir: str) -> list[dict]:
        """Size-tiered delta merging (LSM): while the newest delta has
        grown to >= half its predecessor, merge the two — keeps the live
        delta count O(log total) and amortized merge cost O(batch * log).
        Merging two deltas is exact: the newer one's tombstones override
        the older one's rows."""
        i = 0
        while len(deltas) >= 2 and \
                deltas[-1]["n_docs"] * 2 >= deltas[-2]["n_docs"]:
            old, new = deltas[-2], deltas[-1]
            old_t = self._read([f"{old['dir']}/tombstones"], IDS_DDL)
            new_t = self._read([f"{new['dir']}/tombstones"], IDS_DDL)
            over = F.broadcast(new_t)
            mdir = f"{vdir}/merged{i}"
            i += 1
            n = self._write_delta(
                mdir,
                old_t.unionByName(new_t).distinct(),
                self._read([f"{old['dir']}/doc_tokens"], TOKENS_DDL)
                    .join(over, "doc_id", "left_anti")
                    .unionByName(self._read([f"{new['dir']}/doc_tokens"],
                                            TOKENS_DDL)),
                self._read([f"{old['dir']}/documents"], DOCS_DDL)
                    .join(over, "doc_id", "left_anti")
                    .unionByName(self._read([f"{new['dir']}/documents"],
                                            DOCS_DDL)))
            deltas = deltas[:-2] + [{"dir": mdir, "n_docs": n}]
        return deltas

    # -- compaction: fold deltas into the term buckets ---------------------

    def compact(self) -> int:
        """Fold every live delta into the base term buckets (one bucket
        rewrite per touched bucket; untouched buckets keep their files).
        A maintenance operation — schedule it like Lucene's background
        segment merges; queries work identically before and after."""
        # version pointer first, then THAT version's manifest — same
        # TOCTOU discipline as commit_merge: the CAS must expect the
        # exact version this fold read
        prev_v = self.latest_version()
        prev = self.manifest(prev_v) if prev_v is not None else None
        if prev is None or not prev["deltas"]:
            return prev_v or 0
        from pyspark import StorageLevel

        v = (prev_v or 0) + 1
        vdir = self.log.attempt_dir(v)
        # resolved state of all delta docs (newest wins), plus the full
        # override set as batch ids
        later = None
        tok_parts = []
        all_tombs = []
        for d in reversed(prev["deltas"]):
            dt = self._read([f"{d['dir']}/doc_tokens"], TOKENS_DDL)
            if later is not None:
                dt = dt.join(F.broadcast(later), "doc_id", "left_anti")
            tok_parts.append(dt)
            t = self._read([f"{d['dir']}/tombstones"], IDS_DDL)
            all_tombs.append(t)
            later = t if later is None else later.unionByName(t).distinct()
        new_tokens = (reduce(DataFrame.unionByName, tok_parts)
                      .persist(StorageLevel.MEMORY_AND_DISK))
        batch_ids = (reduce(DataFrame.unionByName, all_tombs).distinct()
                     .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            man = self._fold_into_buckets(prev, new_tokens, batch_ids, vdir)
            man["deltas"] = []
            return self.log.publish(v, prev_v, man)
        finally:
            new_tokens.unpersist()
            batch_ids.unpersist()

    def vacuum(self, keep_last: int = 2,
               grace_s: float = 3600.0) -> list[str]:
        """Garbage-collect data directories no longer reachable from the
        last ``keep_last`` version manifests (≙ Iceberg's
        expire_snapshots + remove_orphan_files). Copy-on-write shares
        bucket files across versions, so reachability is computed over
        the UNION of kept manifests' paths — a data dir is deleted only
        when no kept version references anything inside it. Older
        manifests are dropped too (their versions become unreadable).
        Returns the deleted paths. ``keep_last`` is clamped to >= 1 so
        the LATEST manifest (and the data it references) can never be
        vacuumed away. ``grace_s``: unreferenced data dirs YOUNGER than
        this are kept — they may belong to an in-flight writer whose
        manifest has not landed yet (deleting its attempt dir would let
        its commit succeed pointing at vanished data; cf. Iceberg's
        remove_orphan_files older_than guard)."""
        def referenced(v):
            m = self.manifest(v)
            return ([p for t in _TABLES for p in m[t].values()]
                    + [d["dir"] for d in m["deltas"]])

        return self.log.vacuum(referenced, keep_last, grace_s)

    def _fold_into_buckets(self, prev: dict, new_tokens: DataFrame,
                           batch_ids: DataFrame, vdir: str) -> dict:
        """Bucket-level copy-on-write: rewrite ONLY the term buckets
        owning affected terms (old terms of replaced/deleted docs ∪ new
        terms) and the doc buckets owning batch ids; inherit every other
        bucket's files unchanged. Returns the new base-table manifest."""
        from textindexing_spark.operators.build import (
            document_lengths, postings_from_tokens)

        # doc buckets owning the batch ids — old rows of re-crawled docs
        # and all new rows land in exactly these buckets
        touched_db = sorted(
            r["db"] for r in batch_ids
            .select(self._doc_bucket().alias("db")).distinct().collect())
        db_set = set(touched_db)
        old_dt = self._read(
            [p for k, p in prev["doc_tokens"].items() if int(k) in db_set],
            TOKENS_DDL)

        # affected terms: what the batch docs HAD (forward-table point
        # lookup, pruned to the batch's doc buckets) ∪ what they have now
        affected_terms = (old_dt.join(F.broadcast(batch_ids), "doc_id")
                          .select("term")
                          .union(new_tokens.select("term")))
        touched_tb = sorted(
            r["tb"] for r in affected_terms
            .select(self._term_bucket().alias("tb")).distinct().collect())
        tb_set = set(touched_tb)

        # rewrite touched term buckets: decode them, drop the batch docs,
        # add the fresh tokens, re-aggregate (salting per cfg)
        old_postings = self._read(
            [p for k, p in prev["postings"].items() if int(k) in tb_set],
            POSTINGS_DDL)
        old_tokens_kept = (
            old_postings.select("term", F.explode("postings").alias("p"))
            .select(F.col("p.doc_id").alias("doc_id"), "term",
                    F.col("p.tf").alias("tf"))
            .join(F.broadcast(batch_ids), "doc_id", "left_anti"))
        tokens_all = old_tokens_kept.unionByName(new_tokens)
        if self.cfg.salt_df_threshold > 0:
            # the salting df pre-pass reads tokens twice — persist so the
            # decode+anti-join lineage runs once
            from pyspark import StorageLevel

            tokens_all = tokens_all.persist(StorageLevel.MEMORY_AND_DISK)
        (postings_from_tokens(tokens_all, self.cfg)
         .withColumn("tb", self._term_bucket())
         .write.mode("overwrite").partitionBy("tb")
         .parquet(f"{vdir}/postings"))
        if self.cfg.salt_df_threshold > 0:
            tokens_all.unpersist()

        # rewrite touched doc buckets of the forward table + documents
        kept_dt = old_dt.join(F.broadcast(batch_ids), "doc_id", "left_anti")
        (kept_dt.unionByName(new_tokens)
         .withColumn("db", self._doc_bucket())
         .write.mode("overwrite").partitionBy("db")
         .parquet(f"{vdir}/doc_tokens"))

        old_docs = self._read(
            [p for k, p in prev["documents"].items() if int(k) in db_set],
            DOCS_DDL)
        kept_docs = old_docs.join(F.broadcast(batch_ids), "doc_id",
                                  "left_anti")
        (kept_docs.unionByName(document_lengths(new_tokens))
         .withColumn("db", self._doc_bucket())
         .write.mode("overwrite").partitionBy("db")
         .parquet(f"{vdir}/documents"))

        # manifest: inherit every untouched bucket's existing files; a
        # touched bucket maps to its fresh directory, or disappears if the
        # merge emptied it (partitionBy writes no dir for absent values)
        man = {t: dict(prev[t]) for t in _TABLES}
        for k in touched_tb:
            man["postings"].pop(str(k), None)
            d = f"{vdir}/postings/tb={k}"
            if os.path.isdir(d):
                man["postings"][str(k)] = d
        for k in touched_db:
            for t in ("doc_tokens", "documents"):
                man[t].pop(str(k), None)
                d = f"{vdir}/{t}/db={k}"
                if os.path.isdir(d):
                    man[t][str(k)] = d
        return man
