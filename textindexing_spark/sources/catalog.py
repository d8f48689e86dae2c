"""Snapshot-versioned segment stores — the scale path's MVCC layer.

The reference gets snapshot isolation from copy-on-write immutable state
(ImmutableIndex.cs:20-22,92-96,177: queries read a volatile state pointer;
merges swap it atomically). The lake-format equivalent is Iceberg snapshot
commits; Iceberg jars are not in this image, so the stores implement the
same contract directly over parquet, through the store's VersionLog
(sources/versionlog.py):

    <root>/v{N}/     -- immutable, self-contained index versions
    <root>/v{N}.json -- its publish record
    <root>/LATEST    -- atomic pointer file

- ``commit`` saves the index into a freshly claimed ``v{N}`` slot, then
  publishes it (the state-pointer swap; a compare-and-set when the
  caller passes the version it read);
- ``load(version)`` pins a snapshot: later commits never touch committed
  version dirs, so a pinned reader is isolated (IndexTests.cs:102-118);
- time travel = load any historical version.
"""

from __future__ import annotations

import os
import shutil

from textindexing_spark.config import IndexConfig
from textindexing_spark.operators.query import Index
from textindexing_spark.sources.versionlog import ANY, VersionLog

_EMPTY_POSTINGS = ("term string, df bigint, total_tf bigint, "
                   "postings array<struct<doc_id:bigint,tf:int>>")
_EMPTY_DOCUMENTS = "doc_id bigint, doc_len bigint"


def empty_index(spark, cfg: IndexConfig | None = None) -> Index:
    return Index(spark,
                 spark.createDataFrame([], _EMPTY_POSTINGS),
                 spark.createDataFrame([], _EMPTY_DOCUMENTS),
                 cfg or IndexConfig())


class VersionedSegmentStore:
    """Snapshot-versioned store for the compressed SegmentIndex; versions
    are written by SegmentIndex.save and are usually produced by
    shard-local upserts."""

    def __init__(self, spark, root: str, cfg: IndexConfig | None = None):
        self.spark = spark
        self.root = root
        self.cfg = cfg or IndexConfig()
        self.log = VersionLog(root)

    def latest_version(self) -> int | None:
        return self.log.latest()

    # the pointer reader's older name, still read by the benchmark
    _latest = latest_version

    def versions(self) -> list[int]:
        return self.log.versions()

    def _index_class(self):
        from textindexing_spark.operators.bm25 import SegmentIndex

        return SegmentIndex

    def load(self, version: int | None = None):
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return self._index_class().load(self.spark, f"{self.root}/v{v}",
                                        self.cfg)

    def commit(self, seg, expect_prev=ANY) -> int:
        """Save ``seg`` as a new version and publish it. ``expect_prev``
        (the version the caller read, None for an empty store) makes the
        publish a compare-and-set: a stale writer gets
        ConcurrentWriterError. A failed save or publish removes the slot
        (a record-less slot never reads as published, but it holds disk
        until the vacuum's grace window)."""
        v, path = self.log.claim_slot()
        try:
            seg.save(path)
            return self.log.publish(v, expect_prev)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise

    def expire(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` published versions
        (segment versions are self-contained directories, so expiry is a
        plain delete — ≙ Iceberg expire_snapshots), clamped to >= 1 so
        the version LATEST points at survives. Slots without a publish
        record (a crashed or in-flight writer's) go only once older than
        the log's grace window. Returns the deleted versions."""
        return sorted({int(os.path.basename(p)[1:].removesuffix(".json"))
                       for p in self.log.vacuum(keep_last=keep_last)})


class VersionedPositionalStore(VersionedSegmentStore):
    """Snapshot-versioned store for the compressed positional index
    (phrase tier) — identical MVCC contract to VersionedSegmentStore;
    versions are produced by ``PositionalSegmentIndex.upsert`` (shard-
    local rewrites) and written by its ``save``."""

    def _index_class(self):
        from textindexing_spark.operators.phrase import (
            PositionalSegmentIndex)

        return PositionalSegmentIndex
