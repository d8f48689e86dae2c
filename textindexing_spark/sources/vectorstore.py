"""Persistent incremental IVF vector store — the serving/maintenance
layer the one-shot ANN operators (operators/similarity.py) feed into.

At 100 TB embeddings arrive continuously; re-clustering the corpus per
batch is wrong. The store therefore PINS its coarse quantizer at create
time (seeded k-means over a bounded sample — the FAISS contract: train
once, add forever; re-training is a new store) and from then on every
operation is O(batch) or partition-pruned:

- **Layout.** Vectors live in parquet partitioned by IVF cell
  (``pcell={c}/``), the unit of both copy-on-write and query pruning —
  the vector twin of BucketedIndexStore's term buckets. A query probes
  ``nprobe`` cells, so a search reads nprobe directories out of
  ``k_cells``, never the corpus.
- **Ingest and versioning.** The shared run layer (sources/runs.py):
  ``upsert`` commits the batch's cell-assigned vectors as a delta run
  tombstoned by its vec_ids (an upsert REPLACES by id), ``delete`` a
  tombstone-only one, and ``compact`` folds them into the cells it
  touches (delta rows' cells and cells holding tombstoned residents).
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

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.operators.similarity import DOT
from textindexing_spark.sources.runs import RunStore
from textindexing_spark.sources.versionlog import VersionLog

CELL_DDL = "vec_id bigint, cell int, embedding array<float>"


class IvfVectorStore(RunStore):
    """Snapshot-versioned, cell-partitioned embedding store with pinned
    IVF centroids, O(batch) upsert/delete deltas, copy-on-write
    compaction, and nprobe-pruned cosine search."""

    KEY = "vec_id"
    SIZE = "n_vecs"
    BASE = {"cells": CELL_DDL}
    DELTA = {"vectors": CELL_DDL}

    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        with open(f"{root}/meta.json") as fh:
            meta = json.load(fh)
        self.k_cells = int(meta["k_cells"])
        self.dim = int(meta["dim"])
        # k_cells × dim floats: driver-resident by design (a few KB-MB
        # even at k_cells=65536/dim=1024) — probing must not cost a job
        import numpy as np

        self._cents = np.asarray(meta["centroids"], dtype=np.float64)
        self._cnorms = np.sqrt((self._cents * self._cents).sum(axis=1))

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

    def _resolve(self, m: dict, cells: list[int] | None) -> DataFrame:
        """(vec_id, cell, embedding) — base + deltas, last-wins per
        vec_id, optionally restricted to ``cells``: the probed cells' base
        dirs, and an In-filter on ``cell`` pushed into every delta scan."""
        base = self._read_base(m, "cells", cells)
        if not m["deltas"]:
            return base
        where = (None if cells is None
                 else F.col("cell").isin([int(c) for c in cells]))
        delta, later = self._resolve_deltas(m["deltas"], where)
        return delta["vectors"].unionByName(self._drop(base, later))

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
        # one row per vec_id within the batch: a duplicated id would
        # survive in the delta twice (tombstones only anti-join OLDER
        # state) and break replace-by-id — two rows for one vec_id in
        # every later search
        assigned = self._assign(embeddings.dropDuplicates(["vec_id"]))
        return self._commit(mode, assigned.select("vec_id").distinct(),
                            {"vectors": assigned})

    def delete(self, vec_ids: DataFrame) -> int:
        """Tombstone-only delta: the ids disappear from every subsequent
        read; storage is reclaimed at the next compact."""
        return self._commit(
            "delta", vec_ids.select("vec_id").distinct(),
            {"vectors": self.spark.createDataFrame([], CELL_DDL)})

    def _fold(self, prev: dict, tombstones: DataFrame,
              tables: dict[str, DataFrame], vdir: str) -> dict:
        """Rewrite only the touched cells (fresh rows' cells ∪ cells
        holding tombstoned residents); inherit the rest unchanged."""
        fresh = tables["vectors"]
        fresh_cells = {int(r["cell"]) for r in
                       fresh.select("cell").distinct().collect()}
        # which resident cells hold a tombstoned vector: point lookup on
        # the base, pruned to nothing when the base is empty
        hit_cells = {int(r["cell"]) for r in
                     self._read_base(prev, "cells")
                     .join(F.broadcast(tombstones), "vec_id")
                     .select("cell").distinct().collect()}
        touched = sorted(fresh_cells | hit_cells)
        old_kept = self._drop(self._read_base(prev, "cells", touched),
                              tombstones)
        # partition on a DUPLICATE of cell: partitionBy strips its column
        # from the data files, and manifest dirs are read individually
        # (no shared basePath across versions), so ``cell`` must survive
        # inside the files for _resolve/search_many to see it
        (old_kept.unionByName(fresh)
         .withColumn("pcell", F.col("cell"))
         .repartition("pcell")
         .write.mode("overwrite").partitionBy("pcell")
         .parquet(f"{vdir}/cells"))
        return self._inherit(prev, vdir, {"cells": ("pcell", touched)})

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
