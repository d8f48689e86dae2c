"""The LSM run layer shared by ``BucketedIndexStore`` and
``IvfVectorStore``: one base of hash-partitioned parquet plus a stack of
small delta runs, behind the store's VersionLog.

The reference's merge shares every untouched part of the immutable index
and then swaps one state pointer (ImmutableIndex.cs:92-106,130-176). At
lake scale that is two mechanisms, both owned here once:

1. **Delta commits.** A batch is written as one *delta run*: its
   tombstone set (the batch's keys, which override every older
   appearance) plus the store's delta tables. Nothing of the base is
   rewritten, so a commit costs O(batch). Deltas are size-tiered like
   LSM levels: while the newest is at least half the size of the one
   before, the two merge, so a long stream keeps O(log total) deltas
   alive. Readers resolve base + deltas lazily, last wins per key.

2. **Partition-level copy-on-write.** ``compact()`` (or a
   ``mode="rewrite"`` commit) folds the resolved deltas into the base
   through the store's ``_fold``, which rewrites only the partitions the
   batch touches. Every untouched partition's directory carries into
   the new manifest byte-identical, the parquet stand-in for Iceberg's
   MERGE INTO file-level copy-on-write.

A version's manifest (``v{N}.json``) maps each base table to
``{partition: dir}`` and lists the live deltas as ``{"dir", <size
key>}``, newest last. Single writer, enforced: every commit reads the
pointer first and publishes with the log's compare-and-set, so a racing
writer fails with ConcurrentWriterError and its orphaned data dirs are
left to ``vacuum``. Readers pin an immutable manifest.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from textindexing_spark.sources.versionlog import VersionLog


def read_dirs(spark, paths: list[str], ddl: str) -> DataFrame:
    """Read the parquet dirs a manifest references (empty table for
    none). A referenced dir that no longer exists is CORRUPTION (e.g. a
    mis-timed vacuum), not an empty table: skipping it would make whole
    partitions of a store vanish from query results with no error."""
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise ValueError(
            f"manifest references missing data dirs {missing}; "
            "the store is corrupt (vacuumed while a reader or an "
            "uncommitted writer held this version?)")
    if not paths:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*paths)


class RunStore:
    """Versions, delta runs, tier merges, compaction and vacuum over one
    root. A subclass names its on-disk format in the class constants and
    supplies ``_fold(prev, tombstones, tables, vdir)``: rewrite the base
    partitions a batch touches under ``vdir`` and return the new base
    manifest (``_inherit``)."""

    KEY: str                # the id column tombstones carry
    SIZE: str               # a delta's size key in the manifest
    BASE: dict[str, str]    # base table -> DDL, each {partition: dir}
    DELTA: dict[str, str]   # delta table -> DDL; a delta's size is the
                            # row count of the last one (one row per key)

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.log = VersionLog(root)

    # -- versions -----------------------------------------------------------

    def latest_version(self) -> int | None:
        return self.log.latest()

    def versions(self) -> list[int]:
        return self.log.versions()

    def manifest(self, version: int | None = None) -> dict | None:
        m = self.log.manifest(version)
        if m is not None:
            m.setdefault("deltas", [])
        return m

    def _head(self) -> tuple[int | None, dict]:
        """(version, manifest) of the head. The pointer is read FIRST,
        then that exact version's manifest: the other order (the current
        manifest, then the pointer again for the CAS) is a TOCTOU hole —
        a writer landing between the two reads would make this commit's
        CAS succeed against a manifest it never read, silently dropping
        that writer's batch."""
        v = self.latest_version()
        m = self.manifest(v) if v is not None else None
        return v, m or {**{t: {} for t in self.BASE}, "deltas": []}

    # -- readers ------------------------------------------------------------

    def _read_base(self, m: dict, table: str,
                   keys: list[int] | None = None) -> DataFrame:
        """A base table of manifest ``m``, or only its partitions in
        ``keys``."""
        want = None if keys is None else {int(k) for k in keys}
        return read_dirs(self.spark, [p for k, p in m[table].items()
                                      if want is None or int(k) in want],
                         self.BASE[table])

    def _drop(self, df: DataFrame, tombstones: DataFrame | None) -> DataFrame:
        """``df`` without the tombstoned keys. Tombstone sets are
        micro-batch-scale, so the anti-join broadcasts."""
        if tombstones is None:
            return df
        return df.join(F.broadcast(tombstones), self.KEY, "left_anti")

    def _resolve_deltas(self, deltas: list[dict], where=None
                        ) -> tuple[dict[str, DataFrame], DataFrame]:
        """Last-wins rows of each delta table plus the cumulative
        tombstones of a non-empty ``deltas``. Newest to oldest: a delta's rows
        survive unless a LATER delta's tombstones override them; the base
        is the caller's to ``_drop`` against the returned tombstones.
        ``where`` filters every delta scan (pushed into parquet)."""
        later = None
        parts = {t: [] for t in self.DELTA}
        for d in reversed(deltas):
            for t, ddl in self.DELTA.items():
                df = read_dirs(self.spark, [f"{d['dir']}/{t}"], ddl)
                if where is not None:
                    df = df.where(where)
                parts[t].append(self._drop(df, later))
            tb = read_dirs(self.spark, [f"{d['dir']}/tombstones"],
                           f"{self.KEY} bigint")
            later = tb if later is None else later.unionByName(tb).distinct()
        return ({t: reduce(DataFrame.unionByName, ps)
                 for t, ps in parts.items()}, later)

    # -- commits ------------------------------------------------------------

    def _commit(self, mode: str, tombstones: DataFrame,
                tables: dict[str, DataFrame]) -> int:
        """Commit a batch as a new version. mode='delta' appends a delta
        run and tier-merges: O(batch) amortized, base untouched.
        mode='rewrite' compacts pending deltas first (they are NEWER than
        the base; folding a still-newer batch under them would invert
        last-wins), then folds the batch into the base partitions."""
        prev_v, prev = self._head()
        if mode == "rewrite" and prev["deltas"]:
            prev_v = self.compact()
            prev = self.manifest(prev_v)
        return self._publish(prev_v, prev, mode, tombstones, tables)

    def _publish(self, prev_v: int | None, prev: dict, mode: str,
                 tombstones: DataFrame, tables: dict[str, DataFrame]) -> int:
        """Write version ``prev_v + 1`` as ``prev`` plus the batch and
        publish it with a compare-and-set on ``prev_v``."""
        v = (prev_v or 0) + 1
        vdir = self.log.attempt_dir(v)
        pinned = [df.persist(StorageLevel.MEMORY_AND_DISK)
                  for df in (tombstones, *tables.values())]
        try:
            if mode == "rewrite":
                man = self._fold(prev, tombstones, tables, vdir)
                man["deltas"] = []
            else:
                ddir = f"{vdir}/delta"
                n = self._write_delta(ddir, tombstones, tables)
                man = {t: dict(prev[t]) for t in self.BASE}
                man["deltas"] = self._tier_merge(
                    prev["deltas"] + [{"dir": ddir, self.SIZE: n}], vdir)
            return self.log.publish(v, prev_v, man)
        finally:
            for df in pinned:
                df.unpersist()

    def _write_delta(self, ddir: str, tombstones: DataFrame,
                     tables: dict[str, DataFrame]) -> int:
        """Write one delta run: tombstones plus the delta tables. Deltas
        are micro-batch-sized: single-file writes, no shuffle. Returns
        the delta's size."""
        (tombstones.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/tombstones"))
        for t in self.DELTA:
            (tables[t].coalesce(1).write.mode("overwrite")
             .parquet(f"{ddir}/{t}"))
        return tables[t].count()  # the last table: one row per key

    def _tier_merge(self, deltas: list[dict], vdir: str) -> list[dict]:
        """Size-tiered delta merging: while the newest delta has grown to
        >= half its predecessor, merge the two. Keeps the live delta
        count O(log total) and amortized merge cost O(batch * log).
        Merging two deltas is exact: the newer one's tombstones override
        the older one's rows."""
        i = 0
        while len(deltas) >= 2 and \
                deltas[-1][self.SIZE] * 2 >= deltas[-2][self.SIZE]:
            tables, tombstones = self._resolve_deltas(deltas[-2:])
            mdir = f"{vdir}/merged{i}"
            i += 1
            n = self._write_delta(mdir, tombstones, tables)
            deltas = deltas[:-2] + [{"dir": mdir, self.SIZE: n}]
        return deltas

    # -- maintenance --------------------------------------------------------

    def compact(self) -> int:
        """Fold every live delta into the base (one rewrite per touched
        partition; untouched partitions keep their files). A maintenance
        operation, scheduled like Lucene's background segment merges;
        reads answer identically before and after."""
        prev_v, prev = self._head()
        if not prev["deltas"]:
            return prev_v or 0
        tables, tombstones = self._resolve_deltas(prev["deltas"])
        return self._publish(prev_v, prev, "rewrite", tombstones, tables)

    def _inherit(self, prev: dict, vdir: str,
                 touched: dict[str, tuple[str, list[int]]]) -> dict:
        """The folded version's base manifest: every untouched partition
        keeps its existing dir; a touched one (``touched``: table ->
        (partition column, keys)) maps to its fresh dir under ``vdir``,
        or disappears if the fold emptied it (partitionBy writes no dir
        for absent values)."""
        man = {t: dict(prev[t]) for t in self.BASE}
        for t, (col, keys) in touched.items():
            for k in keys:
                man[t].pop(str(k), None)
                d = f"{vdir}/{t}/{col}={k}"
                if os.path.isdir(d):
                    man[t][str(k)] = d
        return man

    def vacuum(self, keep_last: int = 2,
               grace_s: float = 3600.0) -> list[str]:
        """Garbage-collect data directories no longer reachable from the
        last ``keep_last`` version manifests (≙ Iceberg's
        expire_snapshots + remove_orphan_files). Copy-on-write shares
        partition dirs across versions, so reachability is computed over
        the UNION of kept manifests' paths. Older manifests are dropped
        too (their versions become unreadable). Returns the deleted
        paths. ``keep_last`` is clamped to >= 1 so the LATEST manifest
        (and the data it references) can never be vacuumed away.
        ``grace_s``: unreferenced data dirs YOUNGER than this are kept —
        they may belong to an in-flight writer whose manifest has not
        landed yet."""
        def referenced(v):
            m = self.manifest(v)
            return ([p for t in self.BASE for p in m[t].values()]
                    + [d["dir"] for d in m["deltas"]])

        return self.log.vacuum(referenced, keep_last, grace_s)
