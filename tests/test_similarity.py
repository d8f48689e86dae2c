"""ANN recall regression: the bucketed variants trade recall for a
sub-linear candidate pool; these tests pin the measured recall@10 on the
deterministic driver embeddings so a refactor that silently collapses
candidate generation (empty buckets, wrong key, broken probe) fails
loudly. Ground truth = exact brute-force cosine."""

import pytest

from textindexing_spark.operators.similarity import (cosine_topk, ivf_topk,
                                                     lsh_topk)

QUERY_IDS = [0, 7, 42, 99, 123]


@pytest.fixture(scope="module")
def emb(spark):
    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .cache())
    e.count()
    return e


def _recall(emb, variant_fn):
    hits = 0
    for q in QUERY_IDS:
        truth = {r[0] for r in
                 cosine_topk(emb, q, 10).select("vec_id").collect()}
        got = {r[0] for r in variant_fn(q).select("vec_id").collect()}
        hits += len(truth & got)
    return hits / (10 * len(QUERY_IDS))


def test_lsh_recall_and_multiprobe_dial(emb):
    r0 = _recall(emb, lambda q: lsh_topk(emb, q, 10))
    r1 = _recall(emb, lambda q: lsh_topk(emb, q, 10, multiprobe=1))
    # measured 0.18 / 0.68 on this corpus; pinned with margin
    assert r0 >= 0.10
    assert r1 >= 0.50
    assert r1 > r0  # probing more buckets must not lose recall


def test_ivf_recall_and_nprobe_dial(emb):
    r1 = _recall(emb, lambda q: ivf_topk(emb, q, 10, nprobe=1))
    r2 = _recall(emb, lambda q: ivf_topk(emb, q, 10, nprobe=2))
    # measured 0.48 / 0.70; pinned with margin
    assert r1 >= 0.30
    assert r2 >= 0.55
    assert r2 >= r1


def test_pq_codes_shape_and_self_snap(emb):
    """Every vector gets exactly n_blocks codes in [0, K); codeword
    vectors snap to themselves (their own subvectors ARE codewords)."""
    from textindexing_spark.operators.similarity import pq_assign

    rows = {r["vec_id"]: r["codes"] for r in pq_assign(emb).collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in rows.values())
    for cid in range(16):
        assert rows[cid] == [cid] * 8


def test_pq_adc_recall(emb):
    """ADC over deterministic (untrained) codebooks is coarse but must
    stay far above the random floor (10/N ~= 0.02) — the regression
    guard for a broken distance table or code join. k-means-trained
    codebooks would sharpen this at the cost of cross-engine
    reproducibility (same decision as the IVF centroids)."""
    from textindexing_spark.operators.similarity import pq_adc_topk

    r = _recall(emb, lambda q: pq_adc_topk(emb, q, 10))
    assert r >= 0.15  # measured 0.22 (16 codewords x 8 blocks)


def test_trained_codebooks_deterministic(emb):
    """Same (seed, iters, sample) => byte-identical codebooks/centroids;
    a different seed must actually change the training (no silent
    ignore)."""
    from textindexing_spark.operators.similarity import (
        train_ivf_centroids, train_pq_codebooks)

    a = sorted(map(tuple, train_pq_codebooks(emb, seed=7).collect()))
    b = sorted(map(tuple, train_pq_codebooks(emb, seed=7).collect()))
    c = sorted(map(tuple, train_pq_codebooks(emb, seed=8).collect()))
    assert a == b
    assert a != c
    x = sorted(map(tuple, train_ivf_centroids(emb, seed=7).collect()))
    y = sorted(map(tuple, train_ivf_centroids(emb, seed=7).collect()))
    assert x == y
    assert len(x) == 16


def test_trained_ivf_recall_two_nprobe_settings(emb):
    """k-means-trained cells at two nprobe settings (the verdict-r3
    recall gate): nprobe=4 must beat nprobe=1, and the trained cells at
    equal total cell count (16 trained vs 4 data-vector cells) must
    clear the quality bar."""
    from textindexing_spark.operators.similarity import train_ivf_centroids

    cents = train_ivf_centroids(emb, k=16, seed=7, iters=8)
    cents.cache().count()
    r1 = _recall(emb, lambda q: ivf_topk(emb, q, 10, nprobe=1,
                                         centroids=cents))
    r4 = _recall(emb, lambda q: ivf_topk(emb, q, 10, nprobe=4,
                                         centroids=cents))
    # the driver embeddings are near-uniform (weak natural clusters), so
    # recall tracks the probed corpus fraction with a ~2x lift: measured
    # 0.22 at nprobe=1 (1/16 of the corpus scanned), 0.54 at nprobe=4
    # (1/4 scanned), 0.78 at nprobe=8; pinned with margin
    assert r1 >= 0.12
    assert r4 >= 0.40
    assert r4 > r1
    cents.unpersist()


def test_trained_pq_beats_untrained_adc(emb):
    """Trained PQ codebooks must not LOSE recall vs the deterministic
    data-vector codebooks (the whole point of training), at the same
    K=16 x 8-block budget."""
    from textindexing_spark.operators.similarity import (pq_adc_topk,
                                                         train_pq_codebooks)

    cb = train_pq_codebooks(emb, n_blocks=8, k=16, seed=7, iters=8)
    cb.cache().count()
    r_untrained = _recall(emb, lambda q: pq_adc_topk(emb, q, 10))
    r_trained = _recall(emb, lambda q: pq_adc_topk(emb, q, 10,
                                                   codebook=cb))
    assert r_trained >= r_untrained
    assert r_trained >= 0.30  # measured: see BENCH.md round-4 recall row
    cb.unpersist()


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """600 unit vectors in 16 tight clusters — the data shape residual
    encoding exists for (the driver embeddings are unclustered random
    unit vectors, where IVFADC is at parity with raw-code IVF-PQ)."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = (centers[rng.integers(0, 16, 600)]
         + rng.normal(scale=0.12, size=(600, 64)))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>").cache()
    e.count()
    return e


def test_ivfadc_residual_beats_raw_codes_on_clustered_data(clustered_emb):
    """IVFADC quantizes residuals-to-centroid, so on clustered data the
    same K*M codebook budget yields higher recall than quantizing raw
    vectors (Jegou et al. TPAMI 2011 section V). Measured 0.51 vs 0.47
    at nprobe=1 on this fixture; pinned with margin."""
    from textindexing_spark.operators.similarity import (
        ivf_pq_topk, ivfadc_topk, train_ivf_centroids,
        train_pq_codebooks, train_residual_codebooks)

    emb = clustered_emb
    cents = train_ivf_centroids(emb, k=16, seed=7, iters=8)
    cents.cache().count()
    cb_raw = train_pq_codebooks(emb, 8, 16, seed=7, iters=8)
    cb_raw.cache().count()
    cb_res = train_residual_codebooks(emb, 8, 16, seed=7, iters=8,
                                      centroids=cents)
    cb_res.cache().count()
    qids = [0, 7, 42, 77, 100, 150, 200, 300, 333, 400]
    truth = {q: {r[0] for r in
                 cosine_topk(emb, q, 10).select("vec_id").collect()}
             for q in qids}

    def rec(fn):
        return sum(len(truth[q] & {r[0] for r in
                                   fn(q).select("vec_id").collect()})
                   for q in qids) / (10 * len(qids))

    raw = rec(lambda q: ivf_pq_topk(emb, q, 10, nprobe=1,
                                    codebook=cb_raw, centroids=cents))
    res = rec(lambda q: ivfadc_topk(emb, q, 10, nprobe=1,
                                    codebook=cb_res, centroids=cents))
    assert raw >= 0.35
    assert res >= 0.40
    assert res >= raw  # residual encoding must not lose to raw codes
    for df in (cents, cb_raw, cb_res):
        df.unpersist()


def test_ivfadc_shape_determinism_and_query_exclusion(emb):
    """ivfadc_topk returns exactly k (vec_id, adc_dist) rows, never the
    query vector itself, identically across invocations (seeded
    trainers, tie-broken ordering)."""
    from textindexing_spark.operators.similarity import ivfadc_topk

    r1 = ivfadc_topk(emb, 7, 10, nprobe=2).collect()
    r2 = ivfadc_topk(emb, 7, 10, nprobe=2).collect()
    assert r1 == r2
    assert len(r1) == 10
    assert all(r["vec_id"] != 7 for r in r1)
    assert [r["adc_dist"] for r in r1] == sorted(r["adc_dist"]
                                                 for r in r1)


def test_zero_norm_vectors_do_not_crash_cosine(spark, emb):
    """A zero-norm embedding (failed/padded embed) must not abort the
    job under Spark 4's default ANSI mode (DIVIDE_BY_ZERO): its cosine
    is undefined — the row drops from rankings, assignments, and pair
    generation instead of crashing them."""
    from textindexing_spark.operators.similarity import (
        centroid_sims, embedding_cosine_pairs, ivf_assign)

    dim = len(emb.take(1)[0]["embedding"])
    zero = spark.createDataFrame([(100000, [0.0] * dim)],
                                 "vec_id bigint, embedding array<double>")
    e = emb.select("vec_id", "embedding").unionByName(zero)
    top = cosine_topk(e, 0, 5).collect()
    assert len(top) == 5 and all(r["vec_id"] != 100000 for r in top)
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(e).collect()}
    assert 100000 not in cells  # no defined cell for a zero vector
    sims = centroid_sims(e).where("vec_id = 100000").collect()
    assert sims == []
    pairs = (embedding_cosine_pairs(e, threshold=0.99)
             .where("a = 100000 OR b = 100000").collect())
    assert pairs == []


def test_missing_anchor_or_centroid_ids_fail_loudly(spark, emb, tmp_path):
    """Misconfigured anchor/centroid ids must raise, not return empty
    results indistinguishable from 'no neighbors found' — also when the
    ids passed validation and the table at the same path was then
    rewritten without them."""
    from pyspark.sql import functions as F

    from textindexing_spark.operators.similarity import (
        ivf_topk as _ivf, lsh_topk as _lsh)

    with pytest.raises(ValueError, match="anchor_ids"):
        _lsh(emb, 0, 5, anchor_ids=(888888, 999999)).collect()
    with pytest.raises(ValueError, match="centroid_ids"):
        _ivf(emb, 0, 5, centroid_ids=(888888, 999999)).collect()

    path = str(tmp_path / "emb")
    emb.write.parquet(path)
    ids = (5, 6, 8)
    _lsh(spark.read.parquet(path), 0, 5, anchor_ids=ids).collect()
    _ivf(spark.read.parquet(path), 0, 5, centroid_ids=ids).collect()
    (emb.where(~F.col("vec_id").isin(*ids))
     .write.mode("overwrite").parquet(path))
    with pytest.raises(ValueError, match="anchor_ids"):
        _lsh(spark.read.parquet(path), 0, 5, anchor_ids=ids).collect()
    with pytest.raises(ValueError, match="centroid_ids"):
        _ivf(spark.read.parquet(path), 0, 5, centroid_ids=ids).collect()
