"""Persistent url -> dense doc_id dimension — collision-free document
identity at any corpus size.

Round-1 used ``xxhash64(url)`` as the surrogate doc id. A 64-bit hash
collides with ~50% probability near 5e9 urls (birthday bound) — certain
at the 100 TB tier — and a collision silently merges two documents'
postings. This table assigns DENSE ids (0..n-1) instead, so ids are
collision-free by construction, maximally compact for the varbyte codec
(small gaps), and stable: a url keeps its id for the lifetime of the
index, and re-assigning the same batch is idempotent.

Scale path: new urls are assigned without any global sort or driver
loop. Urls hash into ``n_buckets`` groups; one tiny aggregation counts
each group (its sum is the batch's new-url count — no separate count
job anywhere in the commit); the driver turns those counts into
per-bucket id offsets (a <=n_buckets-row cumsum); each group then ranks
its urls locally (sorted, so the assignment is deterministic) and adds
its offset. Two narrow passes over only the NEW urls — existing
mappings are never rewritten.

Storage is append-only chunks with an atomic LATEST swap, PLUS periodic
chunk COMPACTION: every ``compact_every`` committed chunks fold into a
new hash-bucketed BASE generation (one rewrite of the dimension,
amortized O(total)/compact_every per batch), so ``mapping()`` reads one
base directory plus at most ``compact_every`` chunk paths — NOT one
path per historical batch. Without this, a long ingest stream pays an
ever-growing multi-thousand-path union scan on every micro-batch.
Superseded generations stay on disk for in-flight readers until
``vacuum()`` (call it from the same maintenance schedule as store
compaction)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.sources.versionlog import VersionLog

URLMAP_DDL = "url string, doc_id bigint"


class UrlIdTable:
    """Append-only url->doc_id dimension with versioned parquet storage
    and periodic base compaction."""

    def __init__(self, spark, path: str, n_buckets: int = 256,
                 compact_every: int = 16):
        from textindexing_spark._pkg import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.compact_every = max(int(compact_every), 1)
        # LATEST counts committed chunks. The log's writer lock covers the
        # whole assign/compact/vacuum critical section: id assignment is a
        # read-modify-write over NEXT_ID + LATEST (+ BASE.json), so
        # unserialized writers would mint the same id range for two url
        # sets or clobber each other's chunk. Readers never lock.
        self.log = VersionLog(path)

    def _base_meta(self) -> dict:
        """{'base': dir-or-None, 'folded_through': chunk version}."""
        try:
            with open(f"{self.path}/BASE.json") as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"base": None, "folded_through": 0}

    def _live_paths(self) -> list[str]:
        v = self.log.latest()
        if v is None:
            return []
        meta = self._base_meta()
        paths = [meta["base"]] if meta["base"] else []
        paths += [f"{self.path}/chunk{i}"
                  for i in range(meta["folded_through"] + 1, v + 1)]
        return paths

    def mapping(self) -> DataFrame:
        """The full current url->doc_id mapping: the compacted base plus
        the (bounded count of) chunks appended since the last fold."""
        paths = self._live_paths()
        if not paths:
            return self.spark.createDataFrame([], URLMAP_DDL)
        return self.spark.read.schema(URLMAP_DDL).parquet(*paths)

    def _next_id(self) -> int:
        v = self.log.latest()
        if v is None:
            return 0
        try:
            with open(f"{self.path}/NEXT_ID") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            row = self.mapping().agg(
                F.max("doc_id").alias("m")).collect()[0]
            return int(row["m"] or -1) + 1

    def assign(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        """Return ``df`` with a ``doc_id`` column; unseen urls get fresh
        dense ids appended to the table first (atomic commit, serialized
        across writers by the log's lock — new-url discovery must see any
        concurrent writer's committed chunk or two batches would mint
        overlapping id ranges)."""
        if "doc_id" in df.columns:
            raise ValueError(
                "input already has a doc_id column — drop it before "
                "assign() (ids come from this dimension, not the input)")
        with self.log.lock():
            return self._assign_locked(df, url_col)

    def _assign_locked(self, df: DataFrame, url_col: str) -> DataFrame:
        from pyspark import StorageLevel

        existing = self.mapping()
        # pin the new-url set: the counts job below and the chunk write
        # are TWO actions over this frame — re-evaluating a
        # nondeterministic input (sampled / re-listed / rand-filtered
        # df) between them would write more urls than were counted, and
        # the next batch would mint overlapping doc ids (two urls
        # silently sharing one id)
        new_urls = (df.select(F.col(url_col).alias("url"))
                    .where(F.col("url").isNotNull()).distinct()
                    .join(existing, "url", "left_anti")
                    .persist(StorageLevel.MEMORY_AND_DISK))
        bucket = F.pmod(F.xxhash64("url"),
                        F.lit(self.n_buckets)).cast("int")
        # ONE job decides everything: per-bucket counts (their sum is the
        # new-url count, so no separate count() action runs per batch)
        counts = {r["b"]: r["c"] for r in
                  new_urls.select(bucket.alias("b"))
                  .groupBy("b").agg(F.count("*").alias("c")).collect()}
        if counts:
            base = self._next_id()
            offsets = {}
            acc = base
            for b in sorted(counts):
                offsets[b] = acc
                acc += counts[b]

            def rank_bucket(pdf):
                import pandas as pd

                b = int(pdf["b"].iloc[0])
                pdf = pdf.sort_values("url", kind="mergesort")
                return pd.DataFrame({
                    "url": pdf["url"].to_numpy(),
                    "doc_id": offsets[b] + pd.RangeIndex(len(pdf))})

            assigned = (new_urls.withColumn("b", bucket)
                        .groupBy("b")
                        .applyInPandas(rank_bucket, URLMAP_DDL))
            v = (self.log.latest() or 0) + 1
            assigned.write.mode("overwrite").parquet(
                f"{self.path}/chunk{v}")
            self.log.swap("NEXT_ID", str(acc))
            self.log.publish(v)
            if v - self._base_meta()["folded_through"] >= self.compact_every:
                self.compact()
        new_urls.unpersist()
        full = self.mapping()
        return df.join(full, df[url_col] == full["url"], "left") \
                 .drop(full["url"])

    def compact(self) -> str | None:
        """Fold the current base + live chunks into a new hash-bucketed
        base generation (crash-safe: the BASE.json swap is last, so an
        interrupted fold leaves the previous base + chunks readable).
        Returns the new base directory."""
        with self.log.lock():
            v = self.log.latest()
            if v is None:
                return None
            meta = self._base_meta()
            gen = int(os.path.basename(meta["base"] or "base0")[4:]) + 1
            new_base = f"{self.path}/base{gen}"
            # hash-clustered flat layout (one file per url-hash group) so
            # the base unions cleanly with flat chunks and join/anti-join
            # sides cluster the same urls together; file count =
            # n_buckets scales with the dimension
            (self.mapping()
             .repartition(self.n_buckets, F.xxhash64("url"))
             .write.mode("overwrite").parquet(new_base))
            self.log.swap("BASE.json", json.dumps(
                {"base": new_base, "folded_through": v}))
            return new_base

    def vacuum(self) -> list[str]:
        """Delete superseded base generations and folded chunks (kept
        until now for in-flight readers), and every publish record but
        the newest. Returns deleted paths."""
        import shutil

        deleted = []
        with self.log.lock():
            live = set(self._live_paths())
            for name in sorted(os.listdir(self.path)):
                full = f"{self.path}/{name}"
                if not os.path.isdir(full) or full in live:
                    continue
                if name.startswith("base") or name.startswith("chunk"):
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(full)
            deleted += self.log.vacuum(keep_last=1)
        return deleted
