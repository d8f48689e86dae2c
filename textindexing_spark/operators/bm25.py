"""BM25 top-k over compressed index segments with block-max WAND pruning.

This is the engine's scale path for ranked retrieval (SURVEY.md section
7.2 M4/M5) — the part Catalyst has no primitive for, implemented as
explicit dataflow:

- the index is **document-sharded**: shard = pmod(doc_id, S). Every shard
  holds the varbyte-compressed postings of every term for its doc range
  plus that range's doc lengths — so a query evaluates shard-locally with
  NO join and NO shuffle of postings: one mapInPandas-style task per
  shard, then a tiny distributed top-k reduce (orderBy+limit =
  TakeOrderedAndProject over <= S*k rows).
- per posting block (block_size docs) we store skip metadata:
  (last_doc, byte offsets, n, max_tf, max_score) where max_score is the
  block's true max BM25 partial tf*(k1+1)/(tf+k1*(1-b+b*dl/avgdl)) —
  computed at build time when dl is at hand. ub(term, block) =
  idf * max_score is the tight block-max bound WAND skips with.
- scoring runs block-max WAND (Broder et al. 2003; Ding & Suel 2011
  "Faster top-k document retrieval using block-max indexes"): terms
  sorted by current doc, pivot chosen where cumulative upper bounds reach
  the heap threshold, block-level bound check before any decode of
  non-pivot terms.

Correctness contract: identical top-k doc ids and scores (to float
addition-order noise) as the pure-Catalyst ``Index.search_bm25`` — tested
in tests/test_wand.py.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from textindexing_spark.config import IndexConfig
from textindexing_spark.operators import codec
from textindexing_spark.operators.query import query_set

# per-block skip metadata: (max_tf, min_dl) give the query-time block
# upper bound idf * partial(max_tf, min_dl) — BM25's tf-term is monotone
# up in tf and down in dl, so the componentwise extremes bound every
# posting in the block. Storing the bound's INPUTS instead of a
# precomputed max_score keeps the build independent of corpus stats
# (avgdl), which is what lets the fused builder run in a single pass.
SEGMENT_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("term", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("gaps", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("blocks", T.ArrayType(T.StructType([
        T.StructField("last_doc", T.LongType()),
        T.StructField("gap_off", T.IntegerType()),
        T.StructField("tf_off", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.LongType()),
    ]))),
])

# fused-builder output: segment rows plus ONE summary row per shard
# (term NULL) carrying the shard's packed document table and stats
FUSED_SCHEMA = T.StructType(SEGMENT_SCHEMA.fields + [
    T.StructField("doc_ids", T.BinaryType()),
    T.StructField("doc_lens", T.BinaryType()),
    T.StructField("sum_dl", T.LongType()),
])

SHARD_DOCS_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("doc_ids", T.BinaryType()),
    T.StructField("doc_lens", T.BinaryType()),
    T.StructField("n", T.IntegerType()),
    # per-shard doc-length sum: carried so corpus avgdl stays exact across
    # upserts that leave this shard untouched (its summary row passes
    # through _merge_shard_factory without decoding)
    T.StructField("sum_dl", T.LongType()),
])


def _bm25_partial(tf, dl, k1: float, b: float, avgdl: float):
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _decoded_doc_table(token: str, shard: int, ids_blob, lens_blob):
    """Executor-local LRU of decoded shard doc tables, keyed by (index
    instance token, shard). Python workers are reused across tasks
    (spark.python.worker.reuse), so a serving session decodes each
    shard's packed (doc_ids, doc_lens) blobs ONCE instead of per query.
    The token is minted per SegmentIndex instance and instances are
    immutable snapshots (upsert returns a new index), so entries can
    never go stale.

    The LRU is bounded by BYTES, not entry count: a streaming serving
    session queries a new index version per micro-batch, so dead
    versions' entries accrete in long-lived workers — with large
    shards, an entry-count cap would let the cache grow to many GB
    before evicting anything. Budget via SPARK_GRAFT_DOC_CACHE_MB
    (default 512 MB per worker)."""
    key = (token, int(shard))
    hit = _DOC_TABLE_CACHE.get(key)
    if hit is None:
        hit = (codec.varbyte_decode(np.frombuffer(ids_blob,
                                                  dtype=np.uint8)),
               codec.varbyte_decode(np.frombuffer(lens_blob,
                                                  dtype=np.uint8)))
        _DOC_TABLE_CACHE[key] = hit
        global _DOC_TABLE_CACHE_BYTES
        _DOC_TABLE_CACHE_BYTES += hit[0].nbytes + hit[1].nbytes
        while (_DOC_TABLE_CACHE_BYTES > _DOC_TABLE_CACHE_MAX_BYTES
               and len(_DOC_TABLE_CACHE) > 1):
            _, old = _DOC_TABLE_CACHE.popitem(last=False)
            _DOC_TABLE_CACHE_BYTES -= old[0].nbytes + old[1].nbytes
    else:
        _DOC_TABLE_CACHE.move_to_end(key)
    return hit


import os as _os  # noqa: E402
from collections import OrderedDict  # noqa: E402

_DOC_TABLE_CACHE: OrderedDict = OrderedDict()
_DOC_TABLE_CACHE_BYTES = 0
_DOC_TABLE_CACHE_MAX_BYTES = int(_os.environ.get(
    "SPARK_GRAFT_DOC_CACHE_MB", "512")) * 1024 * 1024


class SegmentIndex:
    """Compressed, document-sharded inverted index for ranked retrieval."""

    def __init__(self, spark, segments: DataFrame, shard_docs: DataFrame,
                 term_stats: DataFrame, n_docs: int, avgdl: float,
                 cfg: IndexConfig, n_shards: int | None = None):
        import uuid

        self._serve_token = uuid.uuid4().hex
        self.spark = spark
        self.segments = segments
        self.shard_docs = shard_docs
        self.term_stats = term_stats  # (term, df) global document frequency
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.cfg = cfg
        self.n_shards = n_shards

    _fused = None  # fused-builder intermediate (persisted), if any

    def cache(self) -> "SegmentIndex":
        self.segments = self.segments.cache()
        self.shard_docs = self.shard_docs.cache()
        self.term_stats = self.term_stats.cache()
        return self

    _query_groups: int | None = None

    def prepare_for_queries(self,
                            query_groups: int | None = None,
                            prefetch_stats: int | None = 100_000
                            ) -> "SegmentIndex":
        """Pin the query-SERVING layout: both cogroup sides repartitioned
        on the query grouping key and cached (materialized now), so every
        query job starts from in-memory clustered data instead of
        re-scanning and re-shuffling parquet — measured ~40% per-query
        p50 cut at 64 shards. ``query_groups`` additionally coalesces
        shards into G tasks per query (each task runs WAND over several
        shards): at small k the per-task scheduling + Python round-trip
        dominates latency, so an interactive session wants G ≈ cores,
        while shard count stays sized for build/upsert parallelism.
        Call once on a long-lived query session (the CLI/server mode);
        batch/one-shot jobs don't need it.

        ``prefetch_stats`` warms the driver-side term-df cache with the
        top-N terms by df (the hot dictionary — a few MB at N=100k):
        a first-time query over prefetched terms skips its stats-lookup
        job, going straight to the WAND cogroup. When the WHOLE
        dictionary fits the budget, the stats job disappears for every
        query, including absent-term ones (a miss then proves df=0)."""
        self._query_groups = query_groups
        if query_groups:
            # materialize the grouping key as a COLUMN before caching
            # and repartition on that column: the per-query cogroup
            # groups by the very attribute the cache is partitioned on,
            # so the zero-shuffle property holds BY CONSTRUCTION.
            # (Measured: Catalyst's alias-aware output-partitioning
            # match elided the exchange for the old re-derived-pmod
            # form too — 0 ENSURE_REQUIREMENTS exchanges either way —
            # but that elision depends on expression canonicalization;
            # keying the cache on a real column makes the contract
            # robust to plan changes rather than optimizer-dependent.)
            key = F.pmod(F.col("shard"), F.lit(query_groups)).cast("int")
            self._serve_seg = (self.segments.withColumn("_qg", key)
                               .repartition(query_groups, F.col("_qg"))
                               .cache())
            self._serve_docs = (self.shard_docs.withColumn("_qg", key)
                                .repartition(query_groups, F.col("_qg"))
                                .cache())
            # plain views share the serving cache (projection over the
            # InMemoryRelation), so save()/upsert() etc. stay cache-backed
            self.segments = self._serve_seg.drop("_qg")
            self.shard_docs = self._serve_docs.drop("_qg")
            self._serve_seg.count()
            self._serve_docs.count()
        else:
            # per-shard grouping: repartition by the shard attribute
            # itself — the cogroup's groupby("shard") matches it
            # directly, so this layout is already exchange-free
            n = self.n_shards or 64
            self.segments = (self.segments
                             .repartition(n, F.col("shard")).cache())
            self.shard_docs = (self.shard_docs
                               .repartition(n, F.col("shard")).cache())
            self.segments.count()
            self.shard_docs.count()
        self.term_stats = self.term_stats.cache()
        if prefetch_stats:
            if self._df_cache is None:
                self._df_cache = {}
            pre = self.term_stats
            if "shards" in pre.columns:
                # apply the prune-cache cap SERVER-side: a mid-df term
                # present in hundreds of shards would otherwise ship
                # its whole membership array through the collect (the
                # cap exists to bound exactly this prefetch memory)
                pre = pre.withColumn(
                    "shards",
                    F.when(F.size("shards") <= self._PRUNE_CACHE_MAX,
                           F.col("shards")))
            rows = (pre.orderBy(F.col("df").desc())
                    .limit(int(prefetch_stats)).collect())
            self._df_cache.update(
                {r["term"]: int(r["df"]) for r in rows})
            self._cache_shards(rows)
            # fewer rows than the budget => the ENTIRE dictionary is
            # cached; any future miss is a term not in the index
            self._stats_complete = len(rows) < int(prefetch_stats)
        return self

    _serve_seg = None
    _serve_docs = None
    _stats_complete = False

    def _serving_frames(self) -> tuple[DataFrame, DataFrame]:
        """(segments, shard_docs) for the WAND cogroup: the
        ``_qg``-keyed cached frames in a serving session, else the plain
        tables."""
        if self._query_groups and self._serve_seg is not None:
            return self._serve_seg, self._serve_docs
        return self.segments, self.shard_docs

    def _prune_shards(self, seg_q: DataFrame, docs_side: DataFrame,
                      terms) -> tuple[DataFrame, DataFrame]:
        """Rare-term shard pruning: restrict BOTH cogroup sides to the
        shards containing >= 1 query term. On a parquet-backed index the
        In-filter pushes into both scans (only candidate shards' posting
        and doc-table rows are read or shuffled); on a prepared serving
        session it additionally filters the ``_qg`` partition column so
        the in-memory scan skips whole cached batches. Exact by
        construction — a doc can only score in a shard holding one of
        its terms (see _candidate_shards). No-op (None) for queries
        containing a term present in every shard."""
        cand = self._candidate_shards(terms)
        if cand is None:
            return seg_q, docs_side
        seg_q = seg_q.where(F.col("shard").isin(cand))
        docs_side = docs_side.where(F.col("shard").isin(cand))
        if self._query_groups:
            groups = sorted({s % self._query_groups for s in cand})
            seg_q = seg_q.where(F.col("_qg").isin(groups))
            docs_side = docs_side.where(F.col("_qg").isin(groups))
        return seg_q, docs_side

    def _cogroup_by_query_key(self, seg_q: DataFrame,
                              docs_side: DataFrame):
        """Group both WAND sides by the query key: per shard, or the
        pre-partitioned ``_qg`` column when a serving session coalesced
        tasks (zero-shuffle — see prepare_for_queries)."""
        if self._query_groups:
            return seg_q.groupby("_qg").cogroup(docs_side.groupby("_qg"))
        return seg_q.groupby("shard").cogroup(docs_side.groupby("shard"))

    def unpersist(self) -> None:
        for df in (self.segments, self.shard_docs, self.term_stats,
                   self._serve_seg, self._serve_docs, self._fused):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def save(self, path: str) -> None:
        import json
        import os

        # physically cluster by shard so a query task reads one file group;
        # rebind each table to its written parquet as we go so derived
        # tables (term_stats comes from segments) never re-run the build
        self.segments.repartition("shard").sortWithinPartitions(
            "shard", "term").write.mode("overwrite").parquet(f"{path}/segments")
        self.segments = self.spark.read.parquet(f"{path}/segments")
        self.shard_docs.write.mode("overwrite").parquet(f"{path}/shard_docs")
        self.shard_docs = self.spark.read.parquet(f"{path}/shard_docs")
        self.term_stats = _term_stats_from_segments(self.segments,
                                                    self.n_shards)
        self.term_stats.write.mode("overwrite").parquet(f"{path}/term_stats")
        self.term_stats = self.spark.read.parquet(f"{path}/term_stats")
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/_meta.json", "w") as fh:
            json.dump({"n_docs": self.n_docs, "avgdl": self.avgdl,
                       "n_shards": self.n_shards}, fh)

    @classmethod
    def load(cls, spark, path: str,
             cfg: IndexConfig | None = None) -> "SegmentIndex":
        import json

        with open(f"{path}/_meta.json") as fh:
            meta = json.load(fh)
        return cls(spark,
                   spark.read.parquet(f"{path}/segments"),
                   spark.read.parquet(f"{path}/shard_docs"),
                   spark.read.parquet(f"{path}/term_stats"),
                   meta["n_docs"], meta["avgdl"], cfg or IndexConfig(),
                   n_shards=meta.get("n_shards"))

    def documents_df(self) -> DataFrame:
        """(doc_id, doc_len) decoded from the packed shard doc tables — a
        narrow map over S summary rows (no shuffle); the segment-path
        equivalent of the boolean Index's documents table."""
        def decode(batches):
            import pandas as pd

            for pdf in batches:
                ids_parts, len_parts = [], []
                for di, dl in zip(pdf["doc_ids"], pdf["doc_lens"]):
                    ids_parts.append(codec.varbyte_decode(
                        np.frombuffer(di, dtype=np.uint8)))
                    len_parts.append(codec.varbyte_decode(
                        np.frombuffer(dl, dtype=np.uint8)))
                if ids_parts:
                    # one output frame per Arrow batch, not per shard row
                    # (hundreds of 1-row record batches cost more IPC
                    # than the decode itself)
                    yield pd.DataFrame(
                        {"doc_id": np.concatenate(ids_parts),
                         "doc_len": np.concatenate(len_parts)})

        return (self.shard_docs.select("doc_ids", "doc_lens")
                .mapInPandas(decode, "doc_id bigint, doc_len bigint"))

    def stats(self) -> DataFrame:
        """Per-shard index telemetry as ONE Catalyst aggregation per side
        (pure JVM — no Python stage, no blob decode): segment/posting
        counts, compressed payload bytes, block counts, and the packed
        doc-table size. The operational surface for running a large
        index: a shard whose ``postings_bytes`` dwarfs the fleet mean
        flags doc-shard imbalance (re-shard or salt), a rising
        ``compression_ratio`` (compressed/raw; raw = 8-byte doc_id +
        4-byte tf per posting) flags a varbyte-hostile id space, and
        ``n_terms`` per shard sizes dictionary fan-out. O(S) output rows
        regardless of corpus size."""
        seg = self.segments.groupBy("shard").agg(
            F.count("*").alias("n_terms"),
            F.sum("n_docs").alias("n_postings"),
            F.sum(F.length("gaps")).alias("gaps_bytes"),
            F.sum(F.length("tfs")).alias("tfs_bytes"),
            F.sum(F.size("blocks")).alias("n_blocks"))
        docs = self.shard_docs.groupBy("shard").agg(
            F.sum("n").alias("n_shard_docs"),
            F.sum(F.length("doc_ids") + F.length("doc_lens"))
             .alias("doc_table_bytes"))
        return (seg.join(docs, "shard", "full_outer")
                .na.fill(0)
                .withColumn("postings_bytes",
                            F.col("gaps_bytes") + F.col("tfs_bytes"))
                .withColumn(
                    "compression_ratio",
                    F.when(F.col("n_postings") > 0,
                           F.round((F.col("gaps_bytes")
                                    + F.col("tfs_bytes"))
                                   / (F.col("n_postings") * 12.0), 4)))
                .orderBy("shard"))

    def stats_summary(self) -> dict:
        """Driver-side rollup of :meth:`stats` (collects O(n_shards)
        rows, never postings): corpus totals, overall compression ratio,
        and the shard-skew ratio (max/mean postings bytes — the number a
        compaction/re-shard policy watches; 1.0 = perfectly balanced)."""
        rows = [r.asDict() for r in self.stats().collect()]
        pb = [r["postings_bytes"] for r in rows]
        n_post = sum(r["n_postings"] for r in rows)
        return {
            "n_shards": len(rows),
            "n_docs": self.n_docs,
            "avgdl": round(self.avgdl, 4),
            "n_terms_total": sum(r["n_terms"] for r in rows),
            "n_postings": n_post,
            "postings_bytes": sum(pb),
            "doc_table_bytes": sum(r["doc_table_bytes"] for r in rows),
            "n_blocks": sum(r["n_blocks"] for r in rows),
            "compression_ratio": (round(sum(pb) / (n_post * 12.0), 4)
                                  if n_post else None),
            "shard_skew": (round(max(pb) / (sum(pb) / len(pb)), 3)
                           if pb and sum(pb) else None),
        }

    def plan_reshard(self,
                     target_shard_bytes: int = 256 << 20) -> dict:
        """The policy half of :meth:`reshard`: from O(S) telemetry rows,
        recommend a valid shard count whose expected max per-shard
        payload sits under ``target_shard_bytes`` (grow: a hash split
        divides a parent ~evenly, so est. child max = max/m; shrink:
        a coalesce concatenates m parents, so est. child max <= m*max).
        Pure recommendation — never schedules the rewrite itself; feed
        ``recommended`` to :meth:`reshard` (or the reshard CLI) when
        ``action`` != "keep"."""
        sizes = [r["postings_bytes"] + r["doc_table_bytes"]
                 for r in self.stats().collect()]
        cur = self.n_shards or len(sizes)
        mx = max(sizes) if sizes else 0
        plan = {
            "n_shards": cur,
            "max_shard_bytes": int(mx),
            "mean_shard_bytes": int(sum(sizes) / len(sizes))
            if sizes else 0,
            "target_shard_bytes": int(target_shard_bytes),
        }
        if mx > target_shard_bytes:
            m = 2
            while mx / m > target_shard_bytes:
                m *= 2
            plan.update(action="grow", recommended=cur * m,
                        est_max_after=int(mx / m))
        else:
            m = 1
            while (cur % (m * 2) == 0
                   and mx * m * 2 <= target_shard_bytes):
                m *= 2
            if m > 1:
                plan.update(action="shrink", recommended=cur // m,
                            est_max_after=int(mx * m))
            else:
                plan.update(action="keep", recommended=cur,
                            est_max_after=int(mx))
        return plan

    def _shard_docs_with_sum_dl(self) -> DataFrame:
        """shard_docs with a guaranteed non-null ``sum_dl`` column.
        Indexes saved before sum_dl existed (or built via paths that left
        it null) get it recomputed by decoding each shard's doc_lens blob
        once — a narrow map over S rows, no shuffle."""
        sd = self.shard_docs
        if "sum_dl" not in sd.columns:
            sd = sd.withColumn("sum_dl", F.lit(None).cast("long"))

        @F.pandas_udf("long")
        def _decode_sum(doc_lens):
            import pandas as pd

            return pd.Series([
                int(codec.varbyte_decode(
                    np.frombuffer(b, dtype=np.uint8)).sum())
                if b is not None else 0
                for b in doc_lens], dtype="int64")

        return sd.withColumn(
            "sum_dl", F.coalesce(F.col("sum_dl"),
                                 _decode_sum(F.col("doc_lens"))))

    # -- incremental upsert (A1 merge at the compressed-segment level) ----

    def _as_fused(self) -> DataFrame:
        """The index's (segments + shard doc tables) as one FUSED_SCHEMA
        frame — the shape the shard-local rewrite kernels (upsert merge,
        reshard split) consume."""
        blocks_t = SEGMENT_SCHEMA["blocks"].dataType
        return (self.segments
                .withColumn("doc_ids", F.lit(None).cast("binary"))
                .withColumn("doc_lens", F.lit(None).cast("binary"))
                .withColumn("sum_dl", F.lit(None).cast("long"))
                .unionByName(self._shard_docs_with_sum_dl().select(
                    "shard",
                    F.lit(None).cast("string").alias("term"),
                    F.col("n").cast("long").alias("n_docs"),
                    F.lit(None).cast("binary").alias("gaps"),
                    F.lit(None).cast("binary").alias("tfs"),
                    F.lit(None).cast(blocks_t).alias("blocks"),
                    "doc_ids", "doc_lens",
                    F.col("sum_dl").cast("long").alias("sum_dl"))))

    def upsert(self, docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> "SegmentIndex":
        """Merge a batch of documents into a NEW SegmentIndex (self stays
        a frozen snapshot ≙ ImmutableIndex copy-on-write). Re-crawled docs
        replace their postings; empty token sets delete (IIndex.cs:116-119,
        SURVEY 1.4.2).

        Execution: the delta tokenizes+encodes into fused form with the
        SAME doc-shard hashing as the base index, then a shard-keyed
        cogroup rewrites ONLY the shards that received delta docs — every
        untouched shard passes through without even decoding. Doc-sharding
        makes replacement shard-local: all of a doc's postings live in
        exactly one shard."""
        from pyspark import StorageLevel

        if not self.n_shards:
            raise ValueError("upsert needs n_shards (index built by "
                             "build_segments_from_docs or loaded with meta)")
        delta = (docs.select(F.col(id_col).alias(id_col),
                             F.col(text_col).alias(text_col))
                 .repartition(self.n_shards, id_col)
                 .mapInPandas(_fused_encoder(self.cfg, id_col, text_col,
                                             include_empty_docs=True,
                                             n_shards=self.n_shards),
                              FUSED_SCHEMA))
        merged = (self._as_fused().groupby("shard")
                  .cogroup(delta.groupby("shard"))
                  .applyInPandas(_merge_shard_factory(self.cfg),
                                 FUSED_SCHEMA)
                  .persist(StorageLevel.MEMORY_AND_DISK))
        return _index_from_fused(self.spark, merged, self.cfg,
                                 self.n_shards)

    def delete_ids(self, doc_ids: DataFrame,
                   id_col: str = "doc_id") -> "SegmentIndex":
        """A3 RemoveDocumentsMatching (ImmutableIndex.cs:182-206) at the
        segment level: drop the given doc ids from every posting list and
        from the shard doc tables; emptied terms disappear. Returns a NEW
        index (self stays a frozen snapshot).

        Execution: the delete set reaches each shard as a synthetic delta
        of dl=0 tombstones (exactly the upsert's empty-merge delete), so
        only shards owning deleted docs rewrite."""
        if not self.n_shards:
            raise ValueError("delete_ids needs n_shards")
        tombstones = doc_ids.select(
            F.col(id_col).alias("doc_id"),
            F.lit("").alias("text"))
        return self.upsert(tombstones)

    def reshard(self, n_shards: int) -> "SegmentIndex":
        """Re-shard the index to a multiple (grow/split) or divisor
        (shrink/coalesce) of its current shard count — for a corpus that
        outgrew the count chosen at build time, or an over-sharded index
        whose per-task overhead dominates (``stats_summary()``'s
        ``postings_bytes``/``shard_skew`` is the watch signal). Returns a
        NEW index; self stays a frozen snapshot (≙ ImmutableIndex CoW,
        ImmutableIndex.cs:169-175's persistent-structure discipline).

        Execution: ONE applyInPandas task per OUTPUT-side group decodes
        the affected postings once and re-encodes them under the new
        sharding. In the grow direction the child shard is computed with
        the numpy twin of Spark's murmur3 (codec.spark_hash_long), i.e.
        exactly where ``repartition(n_shards, doc_id)`` will route the
        doc — so subsequent upsert deltas keep landing on the shard that
        owns the doc's postings. Document text is never touched (no
        re-tokenization — the expensive phase at web scale) and no
        posting-granularity row crosses the wire: only re-keyed
        compressed blobs shuffle into the new index.

        Growing (new = m * old): pmod(h, new) mod old = pmod(h, old), so
        each child's docs come from exactly one parent and parents split
        independently (posting order is preserved under subset selection
        — no cross-task merge exists).

        Shrinking (old = m * new, e.g. down-sizing an over-sharded index
        whose per-shard task overhead dominates): each child coalesces
        exactly its m parents — and because pmod(h, old) mod new =
        pmod(h, new) when new divides old, the child is computable
        JVM-side from the stored shard column (`pmod(shard, new)`), no
        per-doc hashing at all. Parents hold DISJOINT doc sets, so the
        merge is a concatenate+sort of decoded arrays, never a tf-level
        combine. Arbitrary counts (e.g. 4 -> 6) would break both
        identities; that is a rebuild (build_segments_from_docs)."""
        from pyspark import StorageLevel

        if not self.n_shards:
            raise ValueError("reshard needs n_shards (index built by "
                             "build_segments_from_docs or loaded with "
                             "meta)")
        if n_shards == self.n_shards:
            return self
        if n_shards > self.n_shards and n_shards % self.n_shards == 0:
            fused = (self._as_fused().groupby("shard")
                     .applyInPandas(
                         _split_shard_factory(self.cfg, n_shards),
                         FUSED_SCHEMA))
        elif n_shards > 0 and self.n_shards % n_shards == 0:
            fused = (self._as_fused()
                     .withColumn("shard",
                                 F.pmod(F.col("shard"),
                                        F.lit(int(n_shards))).cast("int"))
                     .groupby("shard")
                     .applyInPandas(
                         _coalesce_shard_factory(self.cfg),
                         FUSED_SCHEMA))
        else:
            raise ValueError(
                f"reshard: {n_shards} must be a positive multiple or "
                f"divisor of the current {self.n_shards} shards "
                "(anything else = rebuild via build_segments_from_docs)")
        fused = fused.persist(StorageLevel.MEMORY_AND_DISK)
        return _index_from_fused(self.spark, fused, self.cfg, n_shards)

    # -- query -----------------------------------------------------------

    _df_cache: dict | None = None
    _shard_cache: dict | None = None
    # driver-side cap on cached per-term shard lists: a term spanning
    # more shards than this prunes < 4x at 256 shards (and such terms
    # almost always co-occur with an unprunable head term), so caching
    # its list buys little and the cap bounds prefetch memory
    _PRUNE_CACHE_MAX = 64

    def _cache_shards(self, rows) -> None:
        if self._shard_cache is None:
            self._shard_cache = {}
        for r in rows:
            sh = r["shards"] if "shards" in r.__fields__ else None
            self._shard_cache[r["term"]] = (
                tuple(sh) if sh is not None
                and len(sh) <= self._PRUNE_CACHE_MAX else None)

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Document frequencies for query terms, cached per index
        instance — repeated queries skip the stats lookup job. Terms
        absent from the index cache as 0 (and are dropped by callers).
        The same lookup also caches each term's shard-membership summary
        (``shards`` column, when present) for rare-term shard pruning."""
        if self._df_cache is None:
            self._df_cache = {}
        missing = [t for t in terms if t not in self._df_cache]
        if missing and self._stats_complete:
            # whole dictionary prefetched: a miss IS df=0, no job needed
            for t in missing:
                self._df_cache[t] = 0
        elif missing:
            rows = (self.term_stats.where(F.col("term").isin(missing))
                    .collect())
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = got.get(t, 0)
            self._cache_shards(rows)
        return {t: self._df_cache[t] for t in terms
                if self._df_cache[t] > 0}

    def _candidate_shards(self, terms) -> list[int] | None:
        """Shards containing >= 1 of ``terms`` (union of the per-term
        membership summaries), or None when pruning can't apply: the
        index predates the ``shards`` column, or any term's summary is
        NULL/uncached (a head term present in every shard — scanning
        all shards is then required anyway). A doc scores only where
        one of its terms has postings, so evaluating just these shards
        is exact, not approximate."""
        if not self._shard_cache:
            return None
        union: set[int] = set()
        for t in terms:
            sh = self._shard_cache.get(t)
            if sh is None:
                return None
            union.update(sh)
        return sorted(union)

    def explain_shards(self, query_text: str) -> dict:
        """Observability for rare-term shard pruning: which shards this
        query would schedule and why. Driver-side only — costs the same
        bounded term_stats lookup a search performs, never a postings
        scan. ``candidate_shards`` is None on a full fan-out (some query
        term is a head term present in every shard, or the index has no
        membership summaries); ``pruned_fraction`` is the share of shard
        tasks the query skips."""
        from textindexing_spark.functions.tokenize import tokenize_text

        terms = sorted(set(tokenize_text(query_text, self.cfg.tokenizer,
                                         self.cfg.case_insensitive)))
        dfs = self._term_dfs(terms)
        total = self.n_shards or 0
        cand = self._candidate_shards(list(dfs)) if dfs else []
        scheduled = len(cand) if cand is not None else total
        return {
            "terms": {t: dfs.get(t, 0) for t in terms},
            "candidate_shards": cand,
            "n_shards": total,
            "n_scheduled": scheduled,
            "pruned_fraction": (round(1.0 - scheduled / total, 4)
                                if total else None),
        }

    def idf(self, df_t: int) -> float:
        return math.log(1.0 + (self.n_docs - df_t + 0.5) / (df_t + 0.5))

    def _wand_per_shard(self, queries: dict, id_type: str, k: int,
                        prune: bool, cursors: dict) -> DataFrame | None:
        """The WAND kernel under ``search_bm25`` (a batch of one) and
        ``search_bm25_many``: one cogroup pass where each task decodes
        its shards' doc tables once and runs block-max WAND for every
        query of ``queries`` ({query_id: text}) against them. Returns
        the per-shard top-k (query_id, doc_id, score) rows for the
        caller's global reduce, or None — before any job — when no
        query has a term in the index. ``cursors``: {query_id:
        (score, doc_id)} keyset cursors (see ``_wand_shard``)."""
        from textindexing_spark._pkg import ensure_shipped
        from textindexing_spark.functions.tokenize import tokenize_text

        ensure_shipped(self.spark)
        qterms = {qid: sorted(set(tokenize_text(
                      text, self.cfg.tokenizer, self.cfg.case_insensitive)))
                  for qid, text in queries.items()}
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        stats = self._term_dfs(all_terms)
        idfs_all = {t: self.idf(df_t) for t, df_t in stats.items()}
        per_query = {qid: {t: idfs_all[t] for t in ts if t in idfs_all}
                     for qid, ts in qterms.items()}
        per_query = {qid: d for qid, d in per_query.items() if d}
        if not per_query:
            return None
        k1, b, avgdl = self.cfg.bm25.k1, self.cfg.bm25.b, self.avgdl
        token = self._serve_token
        id_dtype = "int64" if id_type == "bigint" else "object"

        def group_topk(seg, docs):
            import pandas as pd

            out = {"query_id": [], "doc_id": [], "score": []}
            if not seg.empty and not docs.empty:
                # the task may hold SEVERAL shards (serving sessions
                # coalesce tasks); WAND runs shard-locally within it
                for s, sub_shard in seg.groupby("shard"):
                    drow = docs[docs["shard"] == s]
                    if drow.empty:
                        continue
                    dl_ids, dl_vals = _decoded_doc_table(
                        token, s, drow["doc_ids"].iloc[0],
                        drow["doc_lens"].iloc[0])
                    for qid, idfs in per_query.items():
                        sub = sub_shard[sub_shard["term"].isin(idfs)]
                        if sub.empty:
                            continue
                        for d, sc in _wand_shard(sub, dl_ids, dl_vals,
                                                 idfs, k, k1, b, avgdl,
                                                 prune,
                                                 cursors.get(qid)):
                            out["query_id"].append(qid)
                            out["doc_id"].append(d)
                            out["score"].append(sc)
            return pd.DataFrame(
                {"query_id": pd.Series(out["query_id"], dtype=id_dtype),
                 "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                 "score": pd.Series(out["score"], dtype="float64")})

        seg_base, docs_base = self._serving_frames()
        seg_q = seg_base.where(F.col("term").isin(list(idfs_all)))
        # rebind the docs side with fresh expression ids (Alias) — both
        # sides can derive from one fused frame, and cogrouping a frame
        # with itself trips the ambiguous-self-join check
        docs_side = docs_base.select(
            *[F.col(c).alias(c) for c in docs_base.columns])
        # batch-level pruning: the union over EVERY query's terms (the
        # per-query term filter inside the task narrows further)
        seg_q, docs_side = self._prune_shards(seg_q, docs_side,
                                              list(idfs_all))
        return (self._cogroup_by_query_key(seg_q, docs_side)
                .applyInPandas(group_topk, f"query_id {id_type}, "
                               "doc_id bigint, score double"))

    def search_bm25(self, query_text: str, k: int | None = None,
                    prune: bool = True,
                    after: tuple[float, int] | None = None) -> DataFrame:
        """Block-max-WAND top-k: per-shard pruned evaluation + global
        top-k reduce. Returns (doc_id, score) ordered score desc, doc_id.

        ``after=(score, doc_id)``: keyset pagination — return the top-k
        ranked strictly after the cursor (pass the previous page's last
        row VERBATIM: raw double score, not a rounded display value).
        Deep paging stays O(k) rows per page per shard — never the
        offset-style k·page_number — because eligibility is enforced
        inside the shard-local WAND heap."""
        k = k or self.cfg.default_k
        per_shard = self._wand_per_shard({0: query_text}, "bigint", k,
                                         prune, {0: _cursor(after)})
        if per_shard is None:
            return self.spark.createDataFrame(
                [], "doc_id bigint, score double")
        # a batch of one keeps the cheap global reduce: orderBy+limit
        # plans as TakeOrderedAndProject in the same job (the batch
        # window reduce would add jobs)
        return (per_shard.select("doc_id", "score")
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k))

    def search_bm25_many(self, queries, k: int | None = None,
                         prune: bool = True,
                         after: dict | None = None) -> DataFrame:
        """Batched block-max WAND: evaluate a whole QUERY SET in ONE
        Spark job. Per-query jobs pay the full shard-task scheduling
        cost for a handful of result rows (the round-1 query-side
        scaling bottleneck: qps efficiency 0.61 < 0.8); batching
        amortizes it — one cogroup pass decodes each shard's doc table
        once and runs WAND for every query against it, then a single
        windowed top-k per query reduces <= |Q|*k*S rows.

        ``queries``: list of query strings (each its own query_id) or a
        {query_id: query_text} dict (``query_set``). Returns (query_id,
        doc_id, score) ordered by query_id, score desc, doc_id — per
        query identical to ``search_bm25``.

        ``after``: optional {query_id: (score, doc_id)} keyset cursors —
        per-query pagination inside the same single batched job (queries
        without a cursor return page 1)."""
        from pyspark.sql import Window as W

        k = k or self.cfg.default_k
        queries, id_type = query_set(queries)
        cursors = {qid: _cursor(c) for qid, c in (after or {}).items()}
        per_shard = self._wand_per_shard(queries, id_type, k, prune,
                                         cursors)
        if per_shard is None:
            return self.spark.createDataFrame(
                [], f"query_id {id_type}, doc_id bigint, score double")
        w = W.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc())
        return (per_shard.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k).drop("_rn")
                .orderBy("query_id", F.col("score").desc(),
                         F.col("doc_id").asc()))


class _TermIter:
    """Lazy block-decoding posting iterator with next_geq skipping."""

    __slots__ = ("gaps", "tfs", "blocks", "lasts", "idf", "bi", "pos",
                 "docs", "tfvals", "done", "global_ub", "ubs")

    def __init__(self, gaps, tfs, blocks, idf, k1, b, avgdl):
        self.gaps = gaps
        self.tfs = tfs
        self.blocks = blocks
        self.lasts = np.array([bl["last_doc"] for bl in blocks],
                              dtype=np.int64)
        self.idf = idf
        # block upper bounds from the stored (max_tf, min_dl) extremes
        max_tf = np.array([bl["max_tf"] for bl in blocks], dtype=np.float64)
        min_dl = np.array([bl["min_dl"] for bl in blocks], dtype=np.float64)
        self.ubs = idf * _bm25_partial(max_tf, min_dl, k1, b, avgdl)
        self.global_ub = float(self.ubs.max())
        self.bi = -1
        self.done = False
        self._load(0)

    def _load(self, bi: int) -> None:
        if bi >= len(self.blocks):
            self.done = True
            return
        self.bi = bi
        self.docs, self.tfvals = codec.decode_block(
            self.gaps, self.tfs, self.blocks, bi)
        self.pos = 0

    @property
    def cur(self) -> int:
        return int(self.docs[self.pos])

    @property
    def cur_tf(self) -> int:
        return int(self.tfvals[self.pos])

    def block_ub(self) -> float:
        return float(self.ubs[self.bi])

    def block_last(self) -> int:
        return int(self.lasts[self.bi])

    def next_geq(self, target: int) -> None:
        """Advance to the first posting with doc >= target (block skip)."""
        if self.done:
            return
        if target > self.lasts[self.bi]:
            nbi = int(np.searchsorted(self.lasts, target, side="left"))
            if nbi >= len(self.blocks):
                self.done = True
                return
            self._load(nbi)
        p = int(np.searchsorted(self.docs[self.pos:], target,
                                side="left")) + self.pos
        if p >= len(self.docs):  # target beyond this block's tail
            self._load(self.bi + 1)
        else:
            self.pos = p

    def advance(self) -> None:
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load(self.bi + 1)


def _cursor(after):
    """Normalize a keyset cursor to (score: float, doc_id: int). Accepts
    the previous page's last Row (or any mapping with score/doc_id) —
    the recommended form, immune to tuple-order mistakes — or a bare
    (score, doc_id) tuple."""
    if after is None:
        return None
    try:
        return (float(after["score"]), int(after["doc_id"]))
    except (TypeError, KeyError, IndexError, ValueError):
        pass
    score, doc_id = after
    return (float(score), int(doc_id))


def _wand_shard(seg, dl_ids, dl_vals, idfs, k, k1, b, avgdl, prune,
                after=None):
    """Block-max WAND over one shard's compressed segments.
    Returns the shard's top-k [(doc_id, score)] (score desc, doc asc).

    ``after=(score, doc_id)``: keyset-pagination cursor — only docs
    ranked strictly AFTER it (score < s, or score == s and doc_id > d)
    may enter the heap. The filter applies BEFORE the shard-local top-k
    cut (a post-filter would be wrong: a shard that contributed many
    page-1 docs would have its page-2 docs truncated away), and every
    ineligible doc it rejects still tightened nothing — but θ rises on
    eligible docs only, so pruning stays sound for the page's true
    top-k."""
    dl_lookup_ids = dl_ids
    iters = []
    for gaps, tfs, blocks, term in zip(seg["gaps"], seg["tfs"],
                                       seg["blocks"], seg["term"]):
        blocks = list(blocks)
        if not blocks:
            continue
        iters.append(_TermIter(bytes(gaps), bytes(tfs),
                               blocks, idfs[term], k1, b, avgdl))
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of top-k
    theta = -math.inf

    def dl_of(doc: int) -> int:
        i = int(np.searchsorted(dl_lookup_ids, doc))
        return int(dl_vals[i])

    while True:
        live = [it for it in iters if not it.done]
        if not live:
            break
        live.sort(key=lambda it: it.cur)
        # pivot: first index where cumulative upper bounds could reach
        # theta (>= keeps exact-tie candidates alive for the doc_id
        # tie-break; strict > would prune a tying smaller doc_id)
        acc = 0.0
        pivot = -1
        for i, it in enumerate(live):
            acc += it.global_ub
            if len(heap) < k or acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break  # even all terms together cannot reach theta
        pivot_doc = live[pivot].cur
        if live[0].cur == pivot_doc:
            # sorted order => every iter at/before the pivot sits exactly
            # on pivot_doc, so its current block spans pivot_doc and the
            # block-max refinement below is a valid bound
            if prune and len(heap) >= k:
                on_pivot = [it for it in live if it.cur == pivot_doc]
                bub = sum(it.block_ub() for it in on_pivot)
                if bub < theta:
                    # no doc in [pivot_doc, boundary] can reach theta from
                    # these terms alone; later terms' docs cap the skip so
                    # their combinations are never jumped over
                    boundary = min(it.block_last() for it in on_pivot) + 1
                    later = [it.cur for it in live if it.cur > pivot_doc]
                    target = max(min([boundary] + later), pivot_doc + 1)
                    for it in on_pivot:
                        it.next_geq(target)
                    continue
            dl = dl_of(pivot_doc)
            score = 0.0
            for it in live:
                if not it.done and it.cur == pivot_doc:
                    score += it.idf * _bm25_partial(float(it.cur_tf),
                                                    float(dl), k1, b, avgdl)
            for it in live:
                if not it.done and it.cur == pivot_doc:
                    it.advance()
            eligible = after is None or (
                score < after[0]
                or (score == after[0] and pivot_doc > after[1]))
            if eligible:
                entry = (score, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
                if len(heap) >= k:
                    theta = heap[0][0]
        else:
            # align everything before the pivot up to pivot_doc
            for it in live[:pivot]:
                it.next_geq(pivot_doc)
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-d, s) for s, d in out]


# --- build --------------------------------------------------------------------

def _term_stats_from_segments(segments: DataFrame,
                              n_shards: int | None) -> DataFrame:
    """(term, df, shards) from the segment rows themselves: df is the sum
    of per-shard posting counts; ``shards`` is the sorted list of shards
    containing the term — the per-shard membership summary that lets a
    query schedule only shards holding >= 1 of its terms (rare-term
    pruning). Terms present in EVERY shard store NULL (no pruning value,
    and head terms would otherwise dominate the metadata: the summary
    adds at most one int per (term, shard), bounded by the segment table
    itself, and NULL-ing full coverage removes the head terms' share)."""
    agg = segments.groupBy("term").agg(
        F.sum("n_docs").cast("bigint").alias("df"),
        F.sort_array(F.collect_set("shard")).alias("shards"))
    if n_shards:
        agg = agg.withColumn(
            "shards", F.when(F.size("shards") < F.lit(int(n_shards)),
                             F.col("shards")))
    return agg


def build_segments(spark, tokens: DataFrame, documents: DataFrame,
                   cfg: IndexConfig | None = None,
                   n_shards: int = 8) -> SegmentIndex:
    """tokens(doc_id, term, tf) + documents(doc_id, doc_len) ->
    SegmentIndex.

    ONE shuffle, keyed by doc shard; everything after the exchange is
    numpy inside applyInPandas: per shard, lexsort (term, doc_id), find
    term runs, varbyte-encode each run. Flat columns cross the shuffle —
    deliberately NO JVM-side collect_list/sort_array of posting arrays:
    millions of medium-size array allocations across many executor
    threads stall the JVM allocator/GC (measured 3.5x slowdown from 8 to
    32 local cores), while Arrow hands the same data to numpy as flat
    columnar buffers.

    Scale: one task per shard; pick n_shards so a shard's token rows fit
    a task (~10-100 MB each). Shard sizes are uniform by construction
    (pmod over dense doc ids), so no salting is needed here — a head
    term's postings are already spread over ALL shards.
    """
    from textindexing_spark._pkg import ensure_shipped

    ensure_shipped(spark)
    cfg = cfg or IndexConfig()
    row = documents.agg(F.count("*").alias("n"),
                        F.avg("doc_len").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    block_size = cfg.block_size

    with_dl = (tokens.join(documents, "doc_id")
               .withColumn("shard",
                           F.pmod(F.col("doc_id"), F.lit(n_shards))
                            .cast("int")))

    def encode_shard(pdf):
        import pandas as pd

        shard = int(pdf["shard"].iloc[0])
        doc = pdf["doc_id"].to_numpy(np.int64)
        tf = pdf["tf"].to_numpy(np.int64)
        dl = pdf["doc_len"].to_numpy(np.int64)
        codes, uniq_terms = pd.factorize(pdf["term"], sort=True)
        order = np.lexsort((doc, codes))
        doc, tf, dl, codes = doc[order], tf[order], dl[order], codes[order]
        starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
        bounds = np.append(starts, codes.size)
        rows = {"shard": [], "term": [], "n_docs": [], "gaps": [],
                "tfs": [], "blocks": []}
        for i in range(starts.size):
            s, e = bounds[i], bounds[i + 1]
            gb, tb, blocks = codec.encode_postings(doc[s:e], tf[s:e],
                                                   block_size, dl[s:e])
            rows["shard"].append(shard)
            rows["term"].append(uniq_terms[codes[s]])
            rows["n_docs"].append(int(e - s))
            rows["gaps"].append(gb)
            rows["tfs"].append(tb)
            rows["blocks"].append(blocks)
        return pd.DataFrame(rows)

    segments = (with_dl.groupBy("shard")
                .applyInPandas(encode_shard, SEGMENT_SCHEMA))

    def encode_shard_docs(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(np.int64)
        lens = pdf["doc_len"].to_numpy(np.int64)
        return pd.DataFrame({
            "shard": [int(pdf["shard"].iloc[0])],
            "doc_ids": [codec.varbyte_encode(ids).tobytes()],
            "doc_lens": [codec.varbyte_encode(lens).tobytes()],
            "n": [ids.size],
            "sum_dl": [int(lens.sum())],
        })

    shard_docs = (documents
                  .withColumn("shard",
                              F.pmod(F.col("doc_id"), F.lit(n_shards))
                               .cast("int"))
                  .groupBy("shard")
                  .applyInPandas(encode_shard_docs, SHARD_DOCS_SCHEMA))

    shard_of = F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    term_stats = (tokens.groupBy("term")
                  .agg(F.count("*").alias("df"),
                       F.sort_array(F.collect_set(shard_of))
                        .alias("shards"))
                  .withColumn("shards",
                              F.when(F.size("shards") < F.lit(n_shards),
                                     F.col("shards"))))
    # n_shards is deliberately NOT stored on the index: this builder
    # shards by pmod(doc_id, S) while upsert's delta path shards by
    # Spark's murmur3 HashPartitioning — advertising n_shards here would
    # enable an upsert whose delta rows land in different shards than
    # the base postings (use build_segments_from_docs for upsertable
    # indexes)
    return SegmentIndex(spark, segments, shard_docs, term_stats,
                        n_docs, avgdl, cfg)


def build_segments_from_docs(spark, docs: DataFrame,
                             cfg: IndexConfig | None = None,
                             n_shards: int = 8,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> SegmentIndex:
    """docs(doc_id, text) -> SegmentIndex in ONE shuffle and ONE pass.

    The fused scale path: raw documents (not token rows) shuffle to their
    shard, and ONE Python task per shard tokenizes, counts tf, and
    varbyte-encodes its whole shard — token strings never cross the wire
    (for web text the token stream is ~2-3x the raw text bytes), no
    intermediate token table is persisted, and no separate corpus-stats
    pass runs: each shard task also emits one SUMMARY row (term NULL)
    carrying the shard's packed document table (doc_ids/doc_lens blobs)
    and doc-length sum, from which N and avgdl are aggregated. The
    per-block skip bound stores (max_tf, min_dl) — inputs, not scores —
    precisely so encoding never needs avgdl.

    Shard identity: rows reach partition pmod(murmur3(doc_id), n_shards)
    (Spark's HashPartitioning), read in-task via TaskContext.partitionId().

    Scale: one task per shard; pick n_shards so a shard's documents fit a
    task. Head-term skew is structurally bounded — a stopword's postings
    split across every doc shard.
    """
    from pyspark import StorageLevel

    from textindexing_spark._pkg import ensure_shipped

    ensure_shipped(spark)
    cfg = cfg or IndexConfig()
    fused = (docs.select(F.col(id_col).alias(id_col),
                         F.col(text_col).alias(text_col))
             .repartition(n_shards, id_col)
             .mapInPandas(_fused_encoder(cfg, id_col, text_col,
                                         n_shards=n_shards),
                          FUSED_SCHEMA)
             .persist(StorageLevel.MEMORY_AND_DISK))
    return _index_from_fused(spark, fused, cfg, n_shards)


_FUSED_COLS = [f.name for f in FUSED_SCHEMA.fields]


def _merge_shard_factory(cfg: IndexConfig):
    """cogroup applyInPandas fn: (existing fused rows, delta fused rows)
    of ONE shard -> merged fused rows. Upsert semantics ≙ the reference's
    Merge (IIndex.cs:116-119): a delta doc REPLACES its postings entirely;
    a delta doc with doc_len 0 (empty token set) is DELETED; terms whose
    posting lists empty out disappear (no empty lists, IIndex.cs:67-69).
    Untouched shards pass through without decoding."""
    block_size = cfg.block_size

    def _decode_blob(blob):
        return codec.varbyte_decode(np.frombuffer(blob, dtype=np.uint8))

    def merge(left, right):
        import pandas as pd

        if right.empty:
            return left[_FUSED_COLS]  # shard untouched by this batch
        shard = int(right["shard"].iloc[0])
        rsum = right[right["term"].isna()].iloc[0]
        d_ids_r = _decode_blob(rsum["doc_ids"])
        d_lens_r = _decode_blob(rsum["doc_lens"])
        if left.empty:
            d_ids_l = np.empty(0, dtype=np.int64)
            d_lens_l = np.empty(0, dtype=np.int64)
        else:
            lsum = left[left["term"].isna()].iloc[0]
            d_ids_l = _decode_blob(lsum["doc_ids"])
            d_lens_l = _decode_blob(lsum["doc_lens"])
        keep = ~np.isin(d_ids_l, d_ids_r)
        alive = d_lens_r > 0
        ids = np.concatenate([d_ids_l[keep], d_ids_r[alive]])
        lens = np.concatenate([d_lens_l[keep], d_lens_r[alive]])
        order = np.argsort(ids)
        ids, lens = ids[order], lens[order]

        lterms = left[left["term"].notna()] if not left.empty else left
        rterms = right[right["term"].notna()]
        rmap = {r["term"]: r for r in rterms.to_dict("records")}
        rows = {c: [] for c in _FUSED_COLS}

        def emit(term, doc, tf):
            dl = lens[np.searchsorted(ids, doc)]
            gb, tb, blocks = codec.encode_postings(doc, tf, block_size, dl)
            rows["shard"].append(shard)
            rows["term"].append(term)
            rows["n_docs"].append(int(doc.size))
            rows["gaps"].append(gb)
            rows["tfs"].append(tb)
            rows["blocks"].append(blocks)
            rows["doc_ids"].append(None)
            rows["doc_lens"].append(None)
            rows["sum_dl"].append(None)

        # skip-decode pre-check: a resident term whose max doc id sits
        # BELOW every delta doc id cannot contain any replaced/deleted
        # doc — pass it through without even decoding (blocks[-1].last_doc
        # is already in the metadata). In the dominant ingest shape (new
        # docs get fresh, higher dense ids; only re-crawls carry old ids)
        # this skips almost every resident term of a hot shard.
        d_min = int(d_ids_r[0]) if d_ids_r.size else None
        seen = set()
        if not left.empty:
            for lrow in lterms.to_dict("records"):
                term = lrow["term"]
                seen.add(term)
                rrow = rmap.get(term)

                def passthrough(lrow=lrow, term=term):
                    rows["shard"].append(shard)
                    rows["term"].append(term)
                    rows["n_docs"].append(int(lrow["n_docs"]))
                    rows["gaps"].append(lrow["gaps"])
                    rows["tfs"].append(lrow["tfs"])
                    rows["blocks"].append(lrow["blocks"])
                    rows["doc_ids"].append(None)
                    rows["doc_lens"].append(None)
                    rows["sum_dl"].append(None)

                if rrow is None and (
                        d_min is None or
                        int(lrow["blocks"][-1]["last_doc"]) < d_min):
                    passthrough()  # no delta id can be in this list
                    continue
                doc_l, tf_l = codec.decode_postings(
                    bytes(lrow["gaps"]), bytes(lrow["tfs"]),
                    list(lrow["blocks"]))
                m = ~np.isin(doc_l, d_ids_r)  # drop replaced/deleted docs
                if rrow is None and m.all():
                    # posting list untouched by this delta: pass the
                    # encoded bytes through verbatim (no re-encode)
                    passthrough()
                    continue
                doc_l, tf_l = doc_l[m], tf_l[m]
                if rrow is not None:
                    doc_r, tf_r = codec.decode_postings(
                        bytes(rrow["gaps"]), bytes(rrow["tfs"]),
                        list(rrow["blocks"]))
                    doc_l = np.concatenate([doc_l, doc_r])
                    tf_l = np.concatenate([tf_l, tf_r])
                    o = np.argsort(doc_l)
                    doc_l, tf_l = doc_l[o], tf_l[o]
                if doc_l.size:
                    emit(term, doc_l, tf_l)
        for term, rrow in rmap.items():
            if term in seen:
                continue
            doc_r, tf_r = codec.decode_postings(
                bytes(rrow["gaps"]), bytes(rrow["tfs"]),
                list(rrow["blocks"]))
            emit(term, doc_r, tf_r)

        rows["shard"].append(shard)
        rows["term"].append(None)
        rows["n_docs"].append(int(ids.size))
        rows["gaps"].append(None)
        rows["tfs"].append(None)
        rows["blocks"].append(None)
        rows["doc_ids"].append(codec.varbyte_encode(ids).tobytes())
        rows["doc_lens"].append(codec.varbyte_encode(lens).tobytes())
        rows["sum_dl"].append(int(lens.sum()))
        return pd.DataFrame(rows)

    return merge


def _split_shard_factory(cfg: IndexConfig, new_n: int):
    """applyInPandas fn: all fused rows of ONE parent shard -> fused rows
    of its child shards (SegmentIndex.reshard). Every posting's child is
    pmod(spark_hash_long(doc_id), new_n) — selecting a child's subset
    from a doc-id-sorted posting list keeps it sorted, so children
    re-encode directly with no merge."""
    block_size = cfg.block_size

    def split(pdf):
        import pandas as pd

        summary = pdf[pdf["term"].isna()].iloc[0]
        d_ids = codec.varbyte_decode(
            np.frombuffer(summary["doc_ids"], dtype=np.uint8))
        d_lens = codec.varbyte_decode(
            np.frombuffer(summary["doc_lens"], dtype=np.uint8))
        child = np.mod(
            codec.spark_hash_long(d_ids).astype(np.int64), new_n)
        rows = {c: [] for c in _FUSED_COLS}
        for r in pdf[pdf["term"].notna()].to_dict("records"):
            doc, tf = codec.decode_postings(
                bytes(r["gaps"]), bytes(r["tfs"]), list(r["blocks"]))
            pos = np.searchsorted(d_ids, doc)
            dl, ns = d_lens[pos], child[pos]
            for sh in np.unique(ns):
                m = ns == sh
                gb, tb, blocks = codec.encode_postings(
                    doc[m], tf[m], block_size, dl[m])
                rows["shard"].append(int(sh))
                rows["term"].append(r["term"])
                rows["n_docs"].append(int(m.sum()))
                rows["gaps"].append(gb)
                rows["tfs"].append(tb)
                rows["blocks"].append(blocks)
                rows["doc_ids"].append(None)
                rows["doc_lens"].append(None)
                rows["sum_dl"].append(None)
        for sh in np.unique(child):
            m = child == sh
            rows["shard"].append(int(sh))
            rows["term"].append(None)
            rows["n_docs"].append(int(m.sum()))
            rows["gaps"].append(None)
            rows["tfs"].append(None)
            rows["blocks"].append(None)
            rows["doc_ids"].append(
                codec.varbyte_encode(d_ids[m]).tobytes())
            rows["doc_lens"].append(
                codec.varbyte_encode(d_lens[m]).tobytes())
            rows["sum_dl"].append(int(d_lens[m].sum()))
        return pd.DataFrame(rows)

    return split


def _coalesce_shard_factory(cfg: IndexConfig):
    """applyInPandas fn: fused rows of ALL parents of ONE child shard
    (shard column already rewritten to pmod(parent, new_n) JVM-side) ->
    the child's fused rows (SegmentIndex.reshard, shrink direction).
    Parents hold disjoint doc sets, so each term merges by
    concatenate+argsort of its parents' decoded postings — never a
    tf-level combine."""
    block_size = cfg.block_size

    def _decode(blob):
        return codec.varbyte_decode(np.frombuffer(blob, dtype=np.uint8))

    def coalesce(pdf):
        import pandas as pd

        shard = int(pdf["shard"].iloc[0])
        summaries = pdf[pdf["term"].isna()]
        d_ids = np.concatenate(
            [_decode(b) for b in summaries["doc_ids"]])
        d_lens = np.concatenate(
            [_decode(b) for b in summaries["doc_lens"]])
        o = np.argsort(d_ids)
        d_ids, d_lens = d_ids[o], d_lens[o]
        rows = {c: [] for c in _FUSED_COLS}
        for term, grp in pdf[pdf["term"].notna()].groupby("term",
                                                          sort=False):
            parts = [codec.decode_postings(bytes(r["gaps"]),
                                           bytes(r["tfs"]),
                                           list(r["blocks"]))
                     for r in grp.to_dict("records")]
            doc = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts])
            po = np.argsort(doc)
            doc, tf = doc[po], tf[po]
            dl = d_lens[np.searchsorted(d_ids, doc)]
            gb, tb, blocks = codec.encode_postings(doc, tf, block_size,
                                                   dl)
            rows["shard"].append(shard)
            rows["term"].append(term)
            rows["n_docs"].append(int(doc.size))
            rows["gaps"].append(gb)
            rows["tfs"].append(tb)
            rows["blocks"].append(blocks)
            rows["doc_ids"].append(None)
            rows["doc_lens"].append(None)
            rows["sum_dl"].append(None)
        rows["shard"].append(shard)
        rows["term"].append(None)
        rows["n_docs"].append(int(d_ids.size))
        rows["gaps"].append(None)
        rows["tfs"].append(None)
        rows["blocks"].append(None)
        rows["doc_ids"].append(codec.varbyte_encode(d_ids).tobytes())
        rows["doc_lens"].append(codec.varbyte_encode(d_lens).tobytes())
        rows["sum_dl"].append(int(d_lens.sum()))
        return pd.DataFrame(rows)

    return coalesce


def _fused_encoder(cfg: IndexConfig, id_col: str, text_col: str,
                   include_empty_docs: bool = False,
                   n_shards: int | None = None):
    """mapInPandas fn: one doc-shard partition -> FUSED_SCHEMA rows.
    ``include_empty_docs`` records token-less docs in the summary doc
    table with doc_len 0 — the delta form upsert needs to express
    "replace with nothing" (empty merge deletes, SURVEY 1.4.2)."""
    from textindexing_spark.functions.tokenize import tokenize_series

    block_size = cfg.block_size
    tokenizer, fold = cfg.tokenizer, cfg.case_insensitive

    def encode_partition(batches):
        import pandas as pd
        from pyspark import TaskContext

        from textindexing_spark.operators.build import _count_pairs

        # Shard identity: computed from doc_id via the murmur3 twin of
        # Spark's HashPartitioning (spark_hash_long — the same identity
        # reshard relies on), NOT the task's partitionId. The upstream
        # repartition(n_shards, doc_id) normally makes them equal, but
        # Catalyst can ELIDE a repartition it deems redundant (child
        # already hash-partitioned on doc_id with the same N — e.g.
        # after a dropDuplicates when shuffle.partitions == n_shards)
        # and AQE then coalesces the remaining exchange; a partitionId-
        # derived shard silently mis-routes every row in that plan.
        # Deriving the shard from the data keeps the index correct
        # under ANY physical plan; one partition may then emit several
        # shard groups (normally exactly one). Duplicate doc ids within
        # the input dedup here too (first occurrence wins) — same-id
        # rows always co-locate under any hash partitioning on doc_id.
        if n_shards:
            def shard_of(ids_a):
                h = codec.spark_hash_long(ids_a).astype(np.int64)
                return ((h % n_shards) + n_shards) % n_shards
        else:
            pid = TaskContext.get().partitionId()

            def shard_of(ids_a):
                return np.full(ids_a.size, pid, dtype=np.int64)

        states: dict[int, dict] = {}
        seen: set = set()

        def state_for(sh: int) -> dict:
            st = states.get(sh)
            if st is None:
                st = states[sh] = {
                    "vocab": {}, "d_id": [], "d_len": [],
                    "p_doc": [], "p_code": [], "p_tf": []}
            return st

        def eat(st, pdf):
            tok_lists = tokenize_series(pdf[text_col], tokenizer, fold)
            ids_a = pdf[id_col].to_numpy(np.int64)
            # vectorized tf counting (see build._count_pairs): dense
            # bincount over combined (doc, term-code) keys, sort
            # fallback for huge vocabularies; the batch's (small)
            # unique TERM set maps into the shard vocabulary AFTER
            # counting, so the global-code lookup touches unique pairs
            # only — no per-doc/per-token Python dict loop
            lens, total, kv, tf_u, uniq = _count_pairs(tok_lists, np, pd)
            if include_empty_docs:
                # empty doc: never indexed (SURVEY 1.4.2); the delta form
                # keeps a dl=0 tombstone so upsert deletes it
                st["d_id"].append(ids_a)
                st["d_len"].append(lens)
            else:
                st["d_id"].append(ids_a[lens > 0])
                st["d_len"].append(lens[lens > 0])
            if total == 0:
                return
            vocab = st["vocab"]
            g_uniq = np.fromiter(
                (vocab.setdefault(t, len(vocab)) for t in uniq),
                dtype=np.int64, count=len(uniq))
            V = len(uniq)
            st["p_doc"].append(ids_a[kv // V])
            st["p_code"].append(g_uniq[kv % V])
            st["p_tf"].append(tf_u)

        for pdf in batches:
            if pdf.empty:
                continue
            # first occurrence per doc_id wins: drop within-batch
            # repeats and ids already consumed in this partition (a
            # duplicated id would otherwise encode twice — duplicate
            # doc-table entries, non-strictly-increasing posting ids,
            # one doc in two top-k slots)
            fresh = ~pdf[id_col].duplicated() \
                & ~pdf[id_col].isin(seen)
            if not fresh.all():
                pdf = pdf[fresh]
                if pdf.empty:
                    continue
            seen.update(pdf[id_col].tolist())
            sh_a = shard_of(pdf[id_col].to_numpy(np.int64))
            first = int(sh_a[0])
            if (sh_a == first).all():     # the common single-shard case
                eat(state_for(first), pdf)
            else:
                for sh, sub in pdf.groupby(sh_a, sort=False):
                    eat(state_for(int(sh)), sub)

        rows = {"shard": [], "term": [], "n_docs": [], "gaps": [],
                "tfs": [], "blocks": [], "doc_ids": [], "doc_lens": [],
                "sum_dl": []}
        for shard in sorted(states):
            st = states[shard]
            d_ids_a = (np.concatenate(st["d_id"]) if st["d_id"]
                       else np.empty(0, dtype=np.int64))
            if d_ids_a.size == 0:
                continue  # empty shard: contributes no rows
            terms = np.array(list(st["vocab"].keys()), dtype=object)
            d_lens_a = np.concatenate(st["d_len"])
            d_order = np.argsort(d_ids_a)
            d_ids_a, d_lens_a = d_ids_a[d_order], d_lens_a[d_order]
            if st["p_doc"]:
                doc = np.concatenate(st["p_doc"])
                code = np.concatenate(st["p_code"])
                tf = np.concatenate(st["p_tf"])
                order = np.lexsort((doc, code))
                doc, code, tf = doc[order], code[order], tf[order]
                dl = d_lens_a[np.searchsorted(d_ids_a, doc)]
                starts = np.flatnonzero(np.r_[True,
                                              code[1:] != code[:-1]])
                bounds = np.append(starts, code.size)
                for i in range(starts.size):
                    s, e = bounds[i], bounds[i + 1]
                    gb, tb, blocks = codec.encode_postings(
                        doc[s:e], tf[s:e], block_size, dl[s:e])
                    rows["shard"].append(shard)
                    rows["term"].append(terms[code[s]])
                    rows["n_docs"].append(int(e - s))
                    rows["gaps"].append(gb)
                    rows["tfs"].append(tb)
                    rows["blocks"].append(blocks)
                    rows["doc_ids"].append(None)
                    rows["doc_lens"].append(None)
                    rows["sum_dl"].append(None)
            # shard summary row: packed doc table + stats (term NULL)
            rows["shard"].append(shard)
            rows["term"].append(None)
            rows["n_docs"].append(len(d_ids_a))
            rows["gaps"].append(None)
            rows["tfs"].append(None)
            rows["blocks"].append(None)
            rows["doc_ids"].append(
                codec.varbyte_encode(d_ids_a).tobytes())
            rows["doc_lens"].append(
                codec.varbyte_encode(d_lens_a).tobytes())
            rows["sum_dl"].append(int(d_lens_a.sum()))
        if rows["shard"]:
            yield pd.DataFrame(rows)

    return encode_partition


def _index_from_fused(spark, fused: DataFrame, cfg: IndexConfig,
                      n_shards: int) -> "SegmentIndex":
    """Split a FUSED_SCHEMA DataFrame into a SegmentIndex (segments,
    shard doc tables, derived term stats, corpus stats)."""
    seg_cols = [f.name for f in SEGMENT_SCHEMA.fields]
    segments = fused.where(F.col("term").isNotNull()).select(*seg_cols)
    shard_docs = (fused.where(F.col("term").isNull())
                  .select("shard", "doc_ids", "doc_lens",
                          F.col("n_docs").cast("int").alias("n"),
                          F.col("sum_dl").cast("long").alias("sum_dl")))
    stats = (fused.where(F.col("term").isNull())
             .agg(F.sum("n_docs").alias("n"),
                  F.sum("sum_dl").alias("sdl")).collect()[0])
    n_docs = int(stats["n"] or 0)
    avgdl = (float(stats["sdl"] / n_docs)
             if n_docs and stats["sdl"] is not None else 0.0)

    # global document frequency + per-shard membership summary, derived
    # from the segments themselves
    term_stats = _term_stats_from_segments(segments, n_shards)
    idx = SegmentIndex(spark, segments, shard_docs, term_stats,
                       n_docs, avgdl, cfg, n_shards=n_shards)
    idx._fused = fused  # handle for unpersist
    return idx


def segment_index_from(idx, n_shards: int = 8) -> SegmentIndex:
    """Build the ranked-retrieval segments from a (boolean) Index by
    exploding its postings — same tokens, no re-tokenization."""
    tokens = (idx.postings
              .select("term", F.explode("postings").alias("p"))
              .select(F.col("p.doc_id").alias("doc_id"), "term",
                      F.col("p.tf").alias("tf")))
    return build_segments(idx.spark, tokens, idx.documents, idx.cfg,
                          n_shards)
