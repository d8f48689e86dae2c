"""Persistent incremental IVF vector store — the serving/maintenance
layer the one-shot ANN operators (operators/similarity.py) feed into.

At 100 TB embeddings arrive continuously; re-clustering the corpus per
batch is wrong. The store therefore PINS its coarse quantizer at create
time (seeded k-means over a bounded sample — the FAISS contract: train
once, add forever; re-training is a new store) and from then on every
operation is O(batch) or partition-pruned:

- **Layout.** Vectors live in parquet partitioned by IVF cell
  (``cell={c}/``), the unit of both copy-on-write and query pruning —
  the vector twin of BucketedIndexStore's term buckets. A query probes
  ``nprobe`` cells, so a search reads nprobe directories out of
  ``k_cells``, never the corpus.
- **Ingest.** ``upsert`` commits an LSM delta: the batch's tombstone
  set (vec_ids — an upsert REPLACES by id) plus its cell-assigned
  vectors, size-tier-merged so a long stream keeps O(log total) deltas
  alive. Nothing of the base is rewritten per batch. ``delete`` is a
  tombstone-only delta. ``compact`` folds deltas into the cell
  partitions copy-on-write: only cells owning delta rows (or tombstoned
  rows) are rewritten; every untouched cell's directory carries into
  the new manifest byte-identical.
- **Versioning.** Manifests (v{N}.json: cell -> dir + delta list)
  published through the store's VersionLog (sources/versionlog.py) — the
  same single-writer contract (and failure mode: ConcurrentWriterError,
  orphans reclaimed by vacuum) as BucketedIndexStore. Readers pin an
  immutable manifest; time travel = load any version.
- **Search.** The query's probe cells are chosen DRIVER-side against
  the pinned centroids (k_cells × dim floats in numpy — no Spark job),
  then exact cosine ranks the union of those cells' base partitions and
  the (cell-filtered) deltas, last-wins per vec_id. ``search_many``
  scores a whole query batch in one job: union of probe cells scanned
  once, per-query top-k via a window.

Reference tie-in: the store is to ivf_topk what BucketedIndexStore is
to Index.merge (ImmutableIndex.cs:92-96 state-pointer swap;
IIndex.cs:116-119 replace-by-id merge semantics) — the same MVCC and
merge contract, applied to the embedding table of the input_hint.
"""

from __future__ import annotations

import json
import math
import os
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.operators.similarity import DOT
from textindexing_spark.sources.bucketed import read_dirs
from textindexing_spark.sources.versionlog import VersionLog

VEC_DDL = "vec_id bigint, embedding array<float>"
CELL_DDL = "vec_id bigint, cell int, embedding array<float>"
IDS_DDL = "vec_id bigint"


class IvfVectorStore:
    """Snapshot-versioned, cell-partitioned embedding store with pinned
    IVF centroids, O(batch) upsert/delete deltas, copy-on-write
    compaction, and nprobe-pruned cosine search."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        with open(f"{root}/meta.json") as fh:
            meta = json.load(fh)
        self.k_cells = int(meta["k_cells"])
        self.dim = int(meta["dim"])
        # k_cells × dim floats: driver-resident by design (a few KB-MB
        # even at k_cells=65536/dim=1024) — probing must not cost a job
        import numpy as np

        self._cents = np.asarray(meta["centroids"], dtype=np.float64)
        self._cnorms = np.sqrt((self._cents * self._cents).sum(axis=1))
        self.log = VersionLog(root)

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, spark, root: str, embeddings: DataFrame | None = None,
               k_cells: int = 16, seed: int = 7, iters: int = 8,
               sample_n: int = 10_000,
               centroids: list[list[float]] | None = None
               ) -> "IvfVectorStore":
        """Create a store at ``root``: train the coarse quantizer (seeded
        k-means over a bounded sample of ``embeddings`` — deterministic
        given (seed, iters, sample_n)) or accept explicit ``centroids``,
        pin it in meta.json, and commit an empty v0. The quantizer is
        immutable for the store's lifetime."""
        if centroids is None:
            if embeddings is None:
                raise ValueError("create needs embeddings or centroids")
            from textindexing_spark.operators.similarity import (
                _lloyd, _sample_matrix)

            cents = _lloyd(_sample_matrix(embeddings, sample_n),
                           k_cells, seed, iters)
            centroids = [[float(v) for v in c] for c in cents]
        if len(centroids) != k_cells:
            raise ValueError(
                f"expected {k_cells} centroids, got {len(centroids)}")
        meta = {"k_cells": k_cells, "dim": len(centroids[0]),
                "centroids": centroids}
        VersionLog(root).swap("meta.json", json.dumps(meta))
        store = cls(spark, root)
        store.log.publish(0, None, {"cells": {}, "deltas": []})
        return store

    @classmethod
    def open(cls, spark, root: str) -> "IvfVectorStore":
        return cls(spark, root)

    def centroids_df(self) -> DataFrame:
        """(cid, ce) — the pinned quantizer as a (broadcastable)
        DataFrame, accepted by every operators/similarity.py op that
        takes ``centroids``."""
        return self.spark.createDataFrame(
            [(i, [float(v) for v in c])
             for i, c in enumerate(self._cents)],
            "cid int, ce array<double>")

    # -- version bookkeeping (BucketedIndexStore contract) --------------------

    def latest_version(self) -> int | None:
        return self.log.latest()

    def versions(self) -> list[int]:
        return self.log.versions()

    def manifest(self, version: int | None = None) -> dict | None:
        return self.log.manifest(version)

    # -- assignment -----------------------------------------------------------

    def _assign(self, embeddings: DataFrame) -> DataFrame:
        """(vec_id, cell, embedding) — each vector joins its most-cosine-
        similar pinned centroid (sim desc, cid asc tie-break — exactly
        ivf_assign's rule, against the PINNED quantizer). Broadcast
        centroid join: the batch never shuffles for assignment."""
        from textindexing_spark.operators.similarity import ivf_assign

        assign = ivf_assign(embeddings, centroids=self.centroids_df())
        return (embeddings.join(assign, "vec_id")
                .select("vec_id", "cell", "embedding"))

    # -- readers ---------------------------------------------------------------

    def _read(self, paths: list[str], ddl: str) -> DataFrame:
        return read_dirs(self.spark, paths, ddl)

    def _resolve(self, m: dict, cells: list[int] | None) -> DataFrame:
        """(vec_id, cell, embedding) — base + deltas, last-wins per
        vec_id, optionally restricted to ``cells``. Newest delta rows
        survive unconditionally; older rows are anti-joined against the
        cumulative tombstones of everything newer (the
        BucketedIndexStore.load resolution order). Tombstone sets are
        micro-batch-scale, so the anti-joins broadcast."""
        if cells is None:
            base_paths = list(m["cells"].values())
        else:
            want = {str(c) for c in cells}
            base_paths = [p for k, p in m["cells"].items() if k in want]
        base = self._read(base_paths, CELL_DDL)
        parts = []
        later = None
        for d in reversed(m["deltas"]):
            dv = self._read([f"{d['dir']}/vectors"], CELL_DDL)
            if cells is not None:
                # pushed In-filter on the delta's cell column
                dv = dv.where(F.col("cell").isin([int(c) for c in cells]))
            if later is not None:
                dv = dv.join(F.broadcast(later), "vec_id", "left_anti")
            parts.append(dv)
            t = self._read([f"{d['dir']}/tombstones"], IDS_DDL)
            later = t if later is None else later.unionByName(t).distinct()
        if later is not None:
            base = base.join(F.broadcast(later), "vec_id", "left_anti")
        return reduce(DataFrame.unionByName, parts + [base])

    def resolved(self, version: int | None = None,
                 cells: list[int] | None = None) -> DataFrame:
        """The store's current (or pinned-version) contents as
        (vec_id, cell, embedding)."""
        m = self.manifest(version)
        if m is None:
            return self.spark.createDataFrame([], CELL_DDL)
        return self._resolve(m, cells)

    def count(self, version: int | None = None) -> int:
        return self.resolved(version).count()

    # -- writers -----------------------------------------------------------------

    def upsert(self, embeddings: DataFrame, mode: str = "delta") -> int:
        """Commit a batch (replace-by-vec_id semantics) as a new version.
        mode='delta' (default): O(batch) LSM delta, size-tier-merged.
        mode='rewrite': fold straight into the cell partitions,
        rewriting only the cells the batch touches."""
        from pyspark import StorageLevel

        # pointer first, then THAT version's manifest (same TOCTOU
        # discipline as BucketedIndexStore.commit_merge: the CAS must
        # expect the exact version this commit read)
        prev_v = self.latest_version()
        prev = (self.manifest(prev_v) if prev_v is not None else None) \
            or {"cells": {}, "deltas": []}
        v = (prev_v or 0) + 1
        vdir = self.log.attempt_dir(v)
        # one row per vec_id within the batch: a duplicated id would
        # survive in the delta twice (tombstones only anti-join OLDER
        # state) and break replace-by-id — two rows for one vec_id in
        # every later search
        assigned = (self._assign(embeddings.dropDuplicates(["vec_id"]))
                    .persist(StorageLevel.MEMORY_AND_DISK))
        tombs = assigned.select("vec_id").distinct()
        try:
            if mode == "rewrite":
                if prev["deltas"]:
                    # deltas are newer than the base; folding a still-newer
                    # batch under them would invert last-wins — flush first
                    self.compact()
                    prev_v = self.latest_version()
                    prev = self.manifest(prev_v)
                    v = prev_v + 1
                    vdir = self.log.attempt_dir(v)
                man = self._fold_into_cells(prev, assigned, tombs, vdir)
                man["deltas"] = []
                return self.log.publish(v, prev_v, man)
            ddir = f"{vdir}/delta"
            n = self._write_delta(ddir, tombs, assigned)
            deltas = list(prev["deltas"]) + [{"dir": ddir, "n_vecs": n}]
            deltas = self._tier_merge(deltas, vdir)
            man = {"cells": dict(prev["cells"]), "deltas": deltas}
            return self.log.publish(v, prev_v, man)
        finally:
            assigned.unpersist()

    def delete(self, vec_ids: DataFrame) -> int:
        """Tombstone-only delta: the ids disappear from every subsequent
        read; storage is reclaimed at the next compact."""
        prev_v = self.latest_version()
        prev = (self.manifest(prev_v) if prev_v is not None else None) \
            or {"cells": {}, "deltas": []}
        v = (prev_v or 0) + 1
        vdir = self.log.attempt_dir(v)
        ddir = f"{vdir}/delta"
        empty = self.spark.createDataFrame([], CELL_DDL)
        self._write_delta(ddir, vec_ids.select("vec_id").distinct(), empty)
        deltas = list(prev["deltas"]) + [{"dir": ddir, "n_vecs": 0}]
        man = {"cells": dict(prev["cells"]), "deltas": deltas}
        return self.log.publish(v, prev_v, man)

    def _write_delta(self, ddir: str, tombstones: DataFrame,
                     vectors: DataFrame) -> int:
        (tombstones.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/tombstones"))
        (vectors.coalesce(1).write.mode("overwrite")
         .parquet(f"{ddir}/vectors"))
        return vectors.count()

    def _tier_merge(self, deltas: list[dict], vdir: str) -> list[dict]:
        """Size-tiered LSM merging (BucketedIndexStore._tier_merge's
        rule): while the newest delta is >= half its predecessor, merge
        the two — O(log total) live deltas, amortized O(batch log)."""
        i = 0
        while len(deltas) >= 2 and \
                deltas[-1]["n_vecs"] * 2 >= deltas[-2]["n_vecs"]:
            old, new = deltas[-2], deltas[-1]
            old_t = self._read([f"{old['dir']}/tombstones"], IDS_DDL)
            new_t = self._read([f"{new['dir']}/tombstones"], IDS_DDL)
            mdir = f"{vdir}/merged{i}"
            i += 1
            n = self._write_delta(
                mdir,
                old_t.unionByName(new_t).distinct(),
                self._read([f"{old['dir']}/vectors"], CELL_DDL)
                    .join(F.broadcast(new_t), "vec_id", "left_anti")
                    .unionByName(self._read([f"{new['dir']}/vectors"],
                                            CELL_DDL)))
            deltas = deltas[:-2] + [{"dir": mdir, "n_vecs": n}]
        return deltas

    def compact(self) -> int:
        """Fold every live delta into the cell partitions copy-on-write:
        a cell is rewritten only if a delta adds rows to it OR tombstones
        one of its resident vectors; untouched cells inherit their
        directories byte-identical."""
        prev_v = self.latest_version()
        prev = self.manifest(prev_v) if prev_v is not None else None
        if prev is None or not prev["deltas"]:
            return prev_v or 0
        from pyspark import StorageLevel

        v = prev_v + 1
        vdir = self.log.attempt_dir(v)
        # resolved delta rows (newest wins) + the full tombstone union
        later = None
        parts, tombs = [], []
        for d in reversed(prev["deltas"]):
            dv = self._read([f"{d['dir']}/vectors"], CELL_DDL)
            if later is not None:
                dv = dv.join(F.broadcast(later), "vec_id", "left_anti")
            parts.append(dv)
            t = self._read([f"{d['dir']}/tombstones"], IDS_DDL)
            tombs.append(t)
            later = t if later is None else later.unionByName(t).distinct()
        fresh = (reduce(DataFrame.unionByName, parts)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        all_tombs = (reduce(DataFrame.unionByName, tombs).distinct()
                     .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            man = self._fold_into_cells(prev, fresh, all_tombs, vdir)
            man["deltas"] = []
            return self.log.publish(v, prev_v, man)
        finally:
            fresh.unpersist()
            all_tombs.unpersist()

    def _fold_into_cells(self, prev: dict, fresh: DataFrame,
                         tombstones: DataFrame, vdir: str) -> dict:
        """Rewrite only the touched cells (fresh rows' cells ∪ cells
        holding tombstoned residents); inherit the rest unchanged."""
        fresh_cells = {int(r["cell"]) for r in
                       fresh.select("cell").distinct().collect()}
        # which resident cells hold a tombstoned vector: point lookup on
        # the base, pruned to nothing when the base is empty
        base_all = self._read(list(prev["cells"].values()), CELL_DDL)
        hit_cells = {int(r["cell"]) for r in
                     base_all.join(F.broadcast(tombstones), "vec_id")
                     .select("cell").distinct().collect()}
        touched = sorted(fresh_cells | hit_cells)
        t_set = set(touched)
        old_kept = (self._read(
            [p for k, p in prev["cells"].items() if int(k) in t_set],
            CELL_DDL)
            .join(F.broadcast(tombstones), "vec_id", "left_anti"))
        # partition on a DUPLICATE of cell: partitionBy strips its column
        # from the data files, and manifest dirs are read individually
        # (no shared basePath across versions), so ``cell`` must survive
        # inside the files for _resolve/search_many to see it
        (old_kept.unionByName(fresh)
         .withColumn("pcell", F.col("cell"))
         .repartition("pcell")
         .write.mode("overwrite").partitionBy("pcell")
         .parquet(f"{vdir}/cells"))
        man = {"cells": dict(prev["cells"])}
        for c in touched:
            man["cells"].pop(str(c), None)
            d = f"{vdir}/cells/pcell={c}"
            if os.path.isdir(d):
                man["cells"][str(c)] = d
        return man

    def retrain(self, dest_root: str, k_cells: int | None = None,
                seed: int = 7, iters: int = 8, sample_n: int = 10_000,
                version: int | None = None) -> "IvfVectorStore":
        """Quantizer rotation: the pinned-centroid contract is per STORE
        GENERATION — when ingest drift makes the create-time geometry a
        bad fit (cells running hot/cold, recall sagging at fixed
        nprobe), train a FRESH coarse quantizer on the store's CURRENT
        contents and migrate them into a new generation at ``dest_root``
        (≙ retraining a FAISS IVF index; same CoW discipline as the rest
        of the engine: the old root keeps serving every pinned version,
        cutover is the caller's pointer swap). Embeddings migrate as-is
        — one bounded driver-side sample + seeded Lloyd's, one broadcast
        assignment join, one 'rewrite' upsert folded straight into cell
        partitions; the expensive upstream work (producing the
        embeddings) is never redone."""
        from pyspark import StorageLevel

        if os.path.abspath(dest_root) == os.path.abspath(self.root):
            # create() would swap this store's meta.json (new
            # centroids) BEFORE the manifest write fails on the
            # existing LATEST — leaving live cell data partitioned
            # under a quantizer that no longer matches meta.json
            raise ValueError(
                "retrain writes a NEW store generation; dest_root must "
                "differ from the live store's root (cutover is the "
                "caller's pointer swap)")
        cur = (self.resolved(version).select("vec_id", "embedding")
               .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            if not cur.take(1):
                raise ValueError("retrain needs a non-empty store "
                                 "(nothing to train the quantizer on)")
            k = k_cells if k_cells is not None else len(self._cents)
            new = IvfVectorStore.create(
                self.spark, dest_root, embeddings=cur, k_cells=k,
                seed=seed, iters=iters, sample_n=sample_n)
            new.upsert(cur, mode="rewrite")
            return new
        finally:
            cur.unpersist()

    def vacuum(self, keep_last: int = 2,
               grace_s: float = 3600.0) -> list[str]:
        """Drop data dirs unreachable from the newest ``keep_last``
        manifests (clamped >= 1) and the older manifests themselves —
        BucketedIndexStore.vacuum's reachability rule, with the same
        ``grace_s`` window sparing a younger unreferenced dir that may be
        an in-flight writer's attempt."""
        def referenced(v):
            m = self.manifest(v)
            return (list(m["cells"].values())
                    + [d["dir"] for d in m["deltas"]])

        return self.log.vacuum(referenced, keep_last, grace_s)

    # -- search --------------------------------------------------------------

    def probe_cells(self, query_vec, nprobe: int = 2) -> list[int]:
        """The query's ``nprobe`` most-cosine-similar pinned cells —
        computed driver-side in numpy (no Spark job; sim desc, cid asc
        tie-break, matching ivf_topk's qcells)."""
        import numpy as np

        q = np.asarray(query_vec, dtype=np.float64)
        qn = math.sqrt(float(q @ q))
        sims = (self._cents @ q) / (self._cnorms * qn)
        order = sorted(range(self.k_cells), key=lambda c: (-sims[c], c))
        return order[:max(int(nprobe), 1)]

    def _score(self, pool: DataFrame, query_vec, k: int,
               round_to: int) -> DataFrame:
        qe = F.array(*[F.lit(float(x)) for x in query_vec])
        j = pool.withColumn("qe", qe)
        dot = F.expr(DOT.format(a="embedding", b="qe"))
        na = F.expr(DOT.format(a="embedding", b="embedding"))
        nb = F.expr(DOT.format(a="qe", b="qe"))
        return (j.select("vec_id",
                         F.round(dot / (F.sqrt(na) * F.sqrt(nb)),
                                 round_to).alias("cos_sim"))
                .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
                .limit(k))

    def search(self, query_vec, k: int = 10, nprobe: int = 2,
               round_to: int = 4, version: int | None = None) -> DataFrame:
        """(vec_id, cos_sim) — exact cosine top-k over the query's
        ``nprobe`` probed cells. Reads nprobe of k_cells base
        directories plus the (cell-filtered) deltas; one Spark job
        (TakeOrderedAndProject over the pool)."""
        m = self.manifest(version)
        if m is None:
            return self.spark.createDataFrame([], "vec_id bigint, "
                                              "cos_sim double")
        cells = self.probe_cells(query_vec, nprobe)
        pool = self._resolve(m, cells)
        return self._score(pool.select("vec_id", "embedding"),
                           query_vec, k, round_to)

    def search_many(self, queries: dict, k: int = 10, nprobe: int = 2,
                    round_to: int = 4,
                    version: int | None = None) -> DataFrame:
        """(query_id, vec_id, cos_sim) — a whole query batch in ONE job:
        the union of all queries' probe cells is resolved once, each
        query scores only rows in its own probed cells (broadcast query
        table carrying the probe list), per-query top-k via a window
        partitioned by query_id. Ordered (query_id, cos_sim desc,
        vec_id)."""
        from pyspark.sql import Window

        if not queries:
            return self.spark.createDataFrame(
                [], "query_id string, vec_id bigint, cos_sim double")
        m = self.manifest(version)
        if m is None:
            return self.spark.createDataFrame(
                [], "query_id string, vec_id bigint, cos_sim double")
        probes = {qid: self.probe_cells(vec, nprobe)
                  for qid, vec in queries.items()}
        all_cells = sorted({c for cs in probes.values() for c in cs})
        pool = self._resolve(m, all_cells)
        qdf = self.spark.createDataFrame(
            [(str(qid), [float(x) for x in vec], probes[qid])
             for qid, vec in queries.items()],
            "query_id string, qe array<double>, probe array<int>")
        j = (pool.join(F.broadcast(qdf),
                       F.expr("array_contains(probe, cell)")))
        dot = F.expr(DOT.format(a="embedding", b="qe"))
        na = F.expr(DOT.format(a="embedding", b="embedding"))
        nb = F.expr(DOT.format(a="qe", b="qe"))
        scored = j.select(
            "query_id", "vec_id",
            F.round(dot / (F.sqrt(na) * F.sqrt(nb)), round_to)
             .alias("cos_sim"))
        w = (Window.partitionBy("query_id")
             .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()))
        return (scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k).drop("rn")
                .orderBy("query_id", F.col("cos_sim").desc(),
                         F.col("vec_id").asc()))
