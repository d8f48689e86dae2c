"""IvfVectorStore — persistent incremental IVF store over the
embeddings table: pinned quantizer, O(batch) deltas, copy-on-write
compaction, nprobe-pruned search, and the BucketedIndexStore MVCC
contract (CAS versions, time travel, vacuum)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from textindexing_spark.sources.bucketed import ConcurrentWriterError
from textindexing_spark.sources.vectorstore import IvfVectorStore


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>")


def _mk(n, dim=6, seed=0, base=0):
    rng = np.random.RandomState(seed)
    return [(base + i, rng.rand(dim).round(3)) for i in range(n)]


def _resolved_dict(store, version=None):
    return {r["vec_id"]: (r["cell"], [round(float(x), 3)
                                      for x in r["embedding"]])
            for r in store.resolved(version).collect()}


def _brute_topk(rows_dict, q, k):
    q = np.asarray(q, dtype=np.float64)
    scored = []
    for vid, (_, emb) in rows_dict.items():
        e = np.asarray(emb, dtype=np.float64)
        sim = float(e @ q) / (np.linalg.norm(e) * np.linalg.norm(q))
        scored.append((round(sim, 4), vid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return scored[:k]


@pytest.fixture()
def store(spark, tmp_path):
    st = IvfVectorStore.create(
        spark, str(tmp_path / "vs"),
        embeddings=_vecs(spark, _mk(80, seed=1)), k_cells=4, seed=7)
    st.upsert(_vecs(spark, _mk(80, seed=1)))
    return st


def test_create_pins_deterministic_quantizer(spark, tmp_path):
    emb = _vecs(spark, _mk(60, seed=2))
    a = IvfVectorStore.create(spark, str(tmp_path / "a"), emb, k_cells=4)
    b = IvfVectorStore.create(spark, str(tmp_path / "b"), emb, k_cells=4)
    assert np.allclose(a._cents, b._cents)
    # open() reloads the pinned quantizer byte-identically
    re = IvfVectorStore.open(spark, str(tmp_path / "a"))
    assert np.array_equal(re._cents, a._cents)
    with open(f"{tmp_path}/a/meta.json") as fh:
        assert json.load(fh)["k_cells"] == 4
    assert a.latest_version() == 0 and a.count() == 0


def test_create_rejects_wrong_centroid_count(spark, tmp_path):
    with pytest.raises(ValueError):
        IvfVectorStore.create(spark, str(tmp_path / "x"), k_cells=3,
                              centroids=[[1.0, 0.0], [0.0, 1.0]])


def test_upsert_search_matches_brute_force(spark, store):
    rows = _resolved_dict(store)
    assert len(rows) == 80
    q = [0.5, 0.1, 0.9, 0.2, 0.7, 0.3]
    # exhaustive probing == exact brute-force ranking
    got = [(r["cos_sim"], r["vec_id"])
           for r in store.search(q, k=10, nprobe=store.k_cells).collect()]
    assert got == _brute_topk(rows, q, 10)
    # pruned probing returns a subset ranked consistently
    pruned = store.search(q, k=5, nprobe=1).collect()
    assert len(pruned) == 5
    sims = [r["cos_sim"] for r in pruned]
    assert sims == sorted(sims, reverse=True)


def test_upsert_replaces_by_id(spark, store):
    store.upsert(_vecs(spark, [(3, [9.0] * 6), (999, [1.0] * 6)]))
    rows = _resolved_dict(store)
    assert len(rows) == 81
    assert rows[3][1] == [9.0] * 6
    # replaced vector is assigned to the PINNED quantizer's cell
    exp_cell = store.probe_cells([9.0] * 6, nprobe=1)[0]
    assert rows[3][0] == exp_cell


def test_delete_tombstones(spark, store):
    ids = spark.createDataFrame([(1,), (2,)], "vec_id bigint")
    store.delete(ids)
    rows = _resolved_dict(store)
    assert 1 not in rows and 2 not in rows and len(rows) == 78


def test_compact_preserves_contents_and_cell_column(spark, store):
    store.upsert(_vecs(spark, _mk(10, seed=3, base=1000)))
    ids = spark.createDataFrame([(0,), (1000,)], "vec_id bigint")
    store.delete(ids)
    before = _resolved_dict(store)
    store.compact()
    assert store.manifest()["deltas"] == []
    after = _resolved_dict(store)
    assert after == before
    # regression: partitionBy must not strip cell from the data files
    assert all(c is not None for c, _ in after.values())
    n_null = (store.resolved().where(F.col("cell").isNull()).count())
    assert n_null == 0


def test_compact_rewrites_only_touched_cells(spark, store):
    store.compact()
    m1 = dict(store.manifest()["cells"])
    # a delta whose rows all land in one cell: centroid 0's own vector
    c0 = [float(x) for x in store._cents[0]]
    store.upsert(_vecs(spark, [(5000, c0)]))
    store.compact()
    m2 = store.manifest()["cells"]
    hit = store.probe_cells(c0, nprobe=1)[0]
    changed = {c for c in m2 if m2[c] != m1.get(c)}
    assert changed == {str(hit)}  # untouched cells inherited byte-identical


def test_search_many_matches_per_query_after_compact(spark, store):
    store.upsert(_vecs(spark, _mk(20, seed=4, base=500)))
    store.compact()  # base rows now come from partitioned cell dirs
    queries = {"q1": [0.9, 0.1, 0.1, 0.1, 0.1, 0.1],
               "q2": [0.1, 0.1, 0.1, 0.1, 0.1, 0.9],
               "q3": [0.5] * 6}
    batch = store.search_many(queries, k=5, nprobe=2).collect()
    assert len(batch) == 15
    for qid, vec in queries.items():
        solo = [(r["vec_id"], r["cos_sim"])
                for r in store.search(vec, k=5, nprobe=2).collect()]
        got = [(r["vec_id"], r["cos_sim"]) for r in batch
               if r["query_id"] == qid]
        assert got == solo


def test_rewrite_mode_folds_without_deltas(spark, store):
    store.upsert(_vecs(spark, _mk(5, seed=5, base=2000)), mode="rewrite")
    m = store.manifest()
    assert m["deltas"] == []
    rows = _resolved_dict(store)
    assert len(rows) == 85 and 2000 in rows


def test_tier_merge_bounds_delta_count(spark, store):
    for i in range(6):
        store.upsert(_vecs(spark, _mk(4, seed=10 + i, base=3000 + 10 * i)))
    m = store.manifest()
    # equal-size batches collapse: far fewer than 6 live deltas
    assert len(m["deltas"]) < 4
    assert len(_resolved_dict(store)) == 80 + 24
    # tombstone-only deltas tier-merge too: k deletes must not leave k
    # live deltas for every later read to anti-join
    before = len(store.manifest()["deltas"])
    for vid in (0, 1, 3000, 3011):
        store.delete(spark.createDataFrame([(vid,)], "vec_id bigint"))
    assert len(store.manifest()["deltas"]) <= before + 1
    rows = _resolved_dict(store)
    assert len(rows) == 80 + 24 - 4
    assert not {0, 1, 3000, 3011} & set(rows)


def test_search_pushes_probed_cells_into_delta_scans(spark, store):
    """search() reads only the probed cells: the base through its cell
    dirs, every delta through an In-filter on ``cell`` pushed into the
    delta's parquet scan."""
    import contextlib
    import io

    store.compact()
    store.upsert(_vecs(spark, _mk(8, seed=21, base=6000)))
    q = [0.5, 0.1, 0.9, 0.2, 0.7, 0.3]
    cells = sorted(store.probe_cells(q, nprobe=2))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        store.search(q, k=5, nprobe=2).explain("formatted")
    scans = buf.getvalue().split("Scan parquet")[1:]
    delta = [s for s in scans if "/delta/vectors" in s.split("ReadSchema")[0]]
    assert delta
    pushed = f"In(cell, [{cells[0]},{cells[1]}])"
    assert all(pushed in s.split("ReadSchema")[0] for s in delta)


def test_concurrent_writer_cas(spark, store, tmp_path):
    other = IvfVectorStore.open(spark, store.root)
    prev = store.manifest()
    prev_v = store.latest_version()
    other.upsert(_vecs(spark, [(7000, [1.0] * 6)]))
    with pytest.raises(ConcurrentWriterError):
        store.log.publish(prev_v + 1, expect_prev=prev_v, manifest=prev)


def test_time_travel_and_vacuum(spark, store):
    v1 = store.latest_version()
    pinned = _resolved_dict(store, v1)
    store.upsert(_vecs(spark, _mk(5, seed=6, base=4000)))
    store.compact()
    assert _resolved_dict(store, v1) == pinned  # snapshot isolation
    deleted = store.vacuum(keep_last=1)
    assert deleted  # old manifests + orphaned data dirs reclaimed
    assert not os.path.exists(f"{store.root}/v{v1}.json")
    # latest still fully readable after vacuum
    assert len(_resolved_dict(store)) == 85


def _two_cell_store(spark, root):
    st = IvfVectorStore.create(spark, root, k_cells=2,
                               centroids=[[1.0, 0.0], [0.0, 1.0]])
    st.upsert(spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0])],
        "vec_id bigint, embedding array<float>"), mode="rewrite")
    return st


def test_vacuum_grace_spares_inflight_attempt_dir(spark, tmp_path):
    """A fresh unreferenced attempt dir may be an in-flight writer's: it
    survives the default vacuum, and the orphan sweep still collects it
    with grace_s=0 when only one version is left to keep."""
    st = _two_cell_store(spark, str(tmp_path / "g"))
    orphan = f"{st.root}/v99_data_x"
    os.makedirs(orphan)
    deleted = st.vacuum(keep_last=1)
    assert orphan not in deleted and os.path.isdir(orphan)
    assert st.versions() == [1]
    deleted = st.vacuum(keep_last=1, grace_s=0)
    assert orphan in deleted and not os.path.isdir(orphan)
    assert st.count() == 2


def test_resolved_raises_on_missing_referenced_cell(spark, tmp_path):
    """A cell dir the manifest references but that is gone is corruption:
    reads raise instead of silently returning fewer vectors."""
    import shutil

    st = _two_cell_store(spark, str(tmp_path / "m"))
    shutil.rmtree(next(iter(st.manifest()["cells"].values())))
    with pytest.raises(ValueError, match="missing data dirs"):
        st.resolved()


def test_retrain_rotates_quantizer_and_migrates_contents(
        spark, store, tmp_path):
    """Quantizer rotation: retrain() trains a fresh quantizer on the
    CURRENT contents and migrates them into a new store generation —
    contents identical as a (vec_id, embedding) set, exhaustive-probe
    search identical to the old generation (and to brute force), old
    root untouched and still serving."""
    store.upsert(_vecs(spark, _mk(40, seed=9, base=1000)))  # drift batch
    store.delete(_vecs(spark, [(5, [0.0] * 6)]).select("vec_id"))
    before = _resolved_dict(store)

    new = store.retrain(str(tmp_path / "vs2"), k_cells=8, seed=13)
    after = _resolved_dict(new)
    assert len(new._cents) == 8
    assert {v: e for v, (_, e) in after.items()} \
        == {v: e for v, (_, e) in before.items()}
    q = [0.5, 0.1, 0.9, 0.2, 0.7, 0.3]
    got_new = [(r["cos_sim"], r["vec_id"])
               for r in new.search(q, k=10, nprobe=new.k_cells).collect()]
    got_old = [(r["cos_sim"], r["vec_id"])
               for r in store.search(q, k=10,
                                     nprobe=store.k_cells).collect()]
    assert got_new == got_old == _brute_topk(after, q, 10)
    # migrated rows live in folded cell partitions, no deltas pending
    assert new.manifest()["deltas"] == []
    # old generation unchanged (CoW across generations)
    assert _resolved_dict(store) == before


def test_retrain_empty_store_raises(spark, tmp_path):
    st = IvfVectorStore.create(
        spark, str(tmp_path / "e"), k_cells=2,
        centroids=[[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(ValueError, match="non-empty"):
        st.retrain(str(tmp_path / "e2"))


def test_retrain_into_own_root_refused(spark, store, tmp_path):
    """retrain(dest_root == live root) must refuse up front: create()
    would overwrite the live store's meta.json (new centroids) before
    the manifest write fails, leaving cell data partitioned under a
    quantizer that no longer matches the pinned geometry."""
    with pytest.raises(ValueError, match="differ"):
        store.retrain(store.root)
    with pytest.raises(ValueError, match="differ"):
        store.retrain(store.root + "/../" + store.root.rsplit("/", 1)[1])
    # the live store still serves under its original quantizer
    assert store.search([0.5] * 6, k=1, nprobe=store.k_cells).count() == 1


def test_upsert_duplicate_vec_ids_in_batch(spark, tmp_path):
    """replace-by-id: a batch carrying one vec_id twice must leave ONE
    row for it (tombstones only anti-join OLDER state, so both copies
    would otherwise survive in the delta forever)."""
    st = IvfVectorStore.create(
        spark, str(tmp_path / "dup"), k_cells=2,
        centroids=[[1.0, 0.0], [0.0, 1.0]])
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>")
    st.upsert(batch)
    assert st.count() == 2
    rows = st.resolved().where("vec_id = 1").collect()
    assert len(rows) == 1
    got = st.search([1.0, 0.0], k=3, nprobe=2).collect()
    assert len([r for r in got if r["vec_id"] == 1]) == 1
