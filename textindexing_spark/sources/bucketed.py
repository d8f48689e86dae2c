"""Bucketed + LSM-delta boolean index store — the O(delta) incremental
merge path for operator A1 (incremental).

The reference's merge walks only the dictionary entries affected by the
merged document (merge-join over sorted terms, ImmutableIndex.cs:130-176);
everything else is structurally shared between the old and new immutable
index. The delta runs, tier merges, compaction, copy-on-write manifest
and vacuum that give that sharing at lake scale are the shared run layer
(sources/runs.py). What is this store's own:

- **Delta tables.** A merge batch's delta is its token table and its
  documents rows, tombstoned by the batch's doc ids. Readers resolve
  base + deltas lazily; term lookups still push the term filter into the
  base's term-bucketed parquet.
- **Base layout.** ``n_term_buckets`` hash buckets of the term (the unit
  of rewrite) plus a doc-bucketed forward table (doc_id, term, tf) that
  answers "which terms did these docs have BEFORE the merge" without
  scanning the index, and doc-bucketed documents. A fold rewrites only
  the buckets owning affected terms / docs.

Merge semantics are exactly ``Index.merge`` (IIndex.cs:116-119): a
re-merged doc REPLACES its postings, an empty token set DELETES the doc,
emptied terms disappear — gated by the streaming==bulk equivalence tests
plus randomized merge-sequence equivalence (test_pipeline.py).

At 100 TB: bucket count scales with the corpus (constant bucket size);
per-batch cost depends only on batch size and tier count; compaction is
a scheduled maintenance job (Lucene's background segment merging), not a
per-batch tax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.config import IndexConfig
from textindexing_spark.operators.query import Index
from textindexing_spark.sources.runs import RunStore
from textindexing_spark.sources.versionlog import (  # noqa: F401
    ConcurrentWriterError)

POSTINGS_DDL = ("term string, df bigint, total_tf bigint, "
                "postings array<struct<doc_id:bigint,tf:int>>")
TOKENS_DDL = "doc_id bigint, term string, tf int"
DOCS_DDL = "doc_id bigint, doc_len bigint"


def _tokens_of(postings: DataFrame) -> DataFrame:
    """(doc_id, term, tf) rows of a postings table."""
    return (postings.select("term", F.explode("postings").alias("p"))
            .select(F.col("p.doc_id").alias("doc_id"), "term",
                    F.col("p.tf").alias("tf")))


class BucketedIndexStore(RunStore):
    """Snapshot-versioned boolean index with O(batch) delta commits and
    bucket-level copy-on-write compaction: latest_version / versions /
    load -> Index, plus ``commit_merge`` which IS the merge — there is
    no full-index rewrite anywhere on this path."""

    KEY = "doc_id"
    SIZE = "n_docs"
    BASE = {"postings": POSTINGS_DDL, "doc_tokens": TOKENS_DDL,
            "documents": DOCS_DDL}
    DELTA = {"doc_tokens": TOKENS_DDL, "documents": DOCS_DDL}

    def __init__(self, spark, root: str, cfg: IndexConfig | None = None,
                 n_term_buckets: int = 64, n_doc_buckets: int = 64):
        from textindexing_spark._pkg import ensure_shipped

        ensure_shipped(spark)
        super().__init__(spark, root)
        self.cfg = cfg or IndexConfig()
        self.n_term_buckets = n_term_buckets
        self.n_doc_buckets = n_doc_buckets

    # -- bucket functions (must stay stable across versions) --------------

    def _term_bucket(self):
        return F.pmod(F.xxhash64("term"),
                      F.lit(self.n_term_buckets)).cast("int")

    def _doc_bucket(self):
        return F.pmod(F.xxhash64("doc_id"),
                      F.lit(self.n_doc_buckets)).cast("int")

    # -- readers ----------------------------------------------------------

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
        base_postings = self._read_base(m, "postings")
        base_docs = self._read_base(m, "documents")
        if not m["deltas"]:
            return Index(self.spark, base_postings, base_docs, self.cfg)

        from dataclasses import replace

        from textindexing_spark.operators.build import postings_from_tokens

        delta, later = self._resolve_deltas(m["deltas"])
        all_tok = delta["doc_tokens"].unionByName(
            self._drop(_tokens_of(base_postings), later))
        documents = delta["documents"].unionByName(
            self._drop(base_docs, later))
        # the view re-aggregates lazily per query: skip the salting
        # df pre-pass (it doubles the scan lineage and only matters for
        # full materializations, which compaction handles with salting)
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
        from textindexing_spark.operators.build import (
            document_lengths, tokenize_documents)

        tokens = tokenize_documents(docs, self.cfg, id_col=id_col,
                                    text_col=text_col)
        return self._commit(
            mode, docs.select(F.col(id_col).alias("doc_id")).distinct(),
            {"doc_tokens": tokens, "documents": document_lengths(tokens)})

    def _fold(self, prev: dict, batch_ids: DataFrame,
              tables: dict[str, DataFrame], vdir: str) -> dict:
        """Bucket-level copy-on-write: rewrite ONLY the term buckets
        owning affected terms (old terms of replaced/deleted docs ∪ new
        terms) and the doc buckets owning batch ids; inherit every other
        bucket's files unchanged. Returns the new base-table manifest."""
        from textindexing_spark.operators.build import postings_from_tokens

        new_tokens = tables["doc_tokens"]
        # doc buckets owning the batch ids — old rows of re-crawled docs
        # and all new rows land in exactly these buckets
        touched_db = sorted(
            r["db"] for r in batch_ids
            .select(self._doc_bucket().alias("db")).distinct().collect())
        old_dt = self._read_base(prev, "doc_tokens", touched_db)

        # affected terms: what the batch docs HAD (forward-table point
        # lookup, pruned to the batch's doc buckets) ∪ what they have now
        affected_terms = (old_dt.join(F.broadcast(batch_ids), "doc_id")
                          .select("term")
                          .union(new_tokens.select("term")))
        touched_tb = sorted(
            r["tb"] for r in affected_terms
            .select(self._term_bucket().alias("tb")).distinct().collect())

        # rewrite touched term buckets: decode them, drop the batch docs,
        # add the fresh tokens, re-aggregate (salting per cfg)
        tokens_all = self._drop(
            _tokens_of(self._read_base(prev, "postings", touched_tb)),
            batch_ids).unionByName(new_tokens)
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
        for t, old in (("doc_tokens", old_dt),
                       ("documents",
                        self._read_base(prev, "documents", touched_db))):
            (self._drop(old, batch_ids).unionByName(tables[t])
             .withColumn("db", self._doc_bucket())
             .write.mode("overwrite").partitionBy("db")
             .parquet(f"{vdir}/{t}"))

        return self._inherit(prev, vdir, {
            "postings": ("tb", touched_tb),
            "doc_tokens": ("db", touched_db),
            "documents": ("db", touched_db)})
