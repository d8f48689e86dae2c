"""Block-max WAND segment path must return rank-identical top-k (and
equal scores, modulo float addition order) to the pure-Catalyst BM25 path
and the pure-Python oracle."""

import pytest

from textindexing_spark import IndexConfig, build_index
from textindexing_spark.operators.bm25 import segment_index_from
from textindexing_spark.sources.pages import generate_pages_rows

from tests.oracle import OracleIndex

QUERIES = [
    "word1",
    "word1 word7",
    "word2 word3 word11",
    "word42 word100 word5",
    "zzabsent",
    "zzabsent word9",
    "",
    "word0 word1 word2 word3 word4",
]


@pytest.fixture(scope="module")
def corpus():
    return [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=300, seed=11))]


@pytest.fixture(scope="module")
def idx(spark, corpus):
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    return build_index(spark, docs, IndexConfig(block_size=16)).cache()


@pytest.fixture(scope="module")
def seg(idx):
    return segment_index_from(idx, n_shards=4).cache()


@pytest.mark.parametrize("q", QUERIES)
def test_wand_matches_dataframe_path(idx, seg, q):
    a = [(r.doc_id, r.score) for r in idx.search_bm25(q, 10).collect()]
    b = [(r.doc_id, r.score) for r in seg.search_bm25(q, 10).collect()]
    assert [d for d, _ in a] == [d for d, _ in b], q
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == pytest.approx(sb, rel=1e-9), q


@pytest.mark.parametrize("q", QUERIES)
def test_wand_pruning_is_lossless(seg, q):
    pruned = [(r.doc_id, round(r.score, 9)) for r in
              seg.search_bm25(q, 10, prune=True).collect()]
    full = [(r.doc_id, round(r.score, 9)) for r in
            seg.search_bm25(q, 10, prune=False).collect()]
    assert pruned == full, q


def test_segment_stats_telemetry(spark, corpus, idx, tmp_path):
    """stats() must report exact per-shard counts/bytes (checked against
    a pure-Python recompute from the raw segment rows and the oracle's
    posting sets); on a saved index the telemetry plan is pure JVM (the
    module fixture would show the in-memory BUILD lineage instead)."""
    from textindexing_spark.operators.bm25 import SegmentIndex

    o = OracleIndex()
    for doc_id, text in corpus:
        o.merge(doc_id, text)

    segment_index_from(idx, n_shards=4).save(str(tmp_path / "ix"))
    seg = SegmentIndex.load(spark, str(tmp_path / "ix"))

    rows = {r["shard"]: r.asDict() for r in seg.stats().collect()}
    raw = seg.segments.collect()
    by_shard: dict[int, list] = {}
    for r in raw:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(rows) == set(by_shard)
    for sh, segs in by_shard.items():
        got = rows[sh]
        assert got["n_terms"] == len(segs)
        assert got["n_postings"] == sum(s["n_docs"] for s in segs)
        assert got["gaps_bytes"] == sum(len(s["gaps"]) for s in segs)
        assert got["tfs_bytes"] == sum(len(s["tfs"]) for s in segs)
        assert got["n_blocks"] == sum(len(s["blocks"]) for s in segs)
        assert got["postings_bytes"] == (got["gaps_bytes"]
                                         + got["tfs_bytes"])
        assert got["compression_ratio"] == pytest.approx(
            got["postings_bytes"] / (got["n_postings"] * 12.0), abs=1e-4)

    s = seg.stats_summary()
    # corpus-level truths from the independent oracle
    assert s["n_postings"] == sum(len(d) for d in o.postings.values())
    assert s["n_docs"] == len(o.doc_len)
    assert sum(r["n_shard_docs"] for r in rows.values()) == s["n_docs"]
    assert s["n_terms_total"] == len(raw)
    # varbyte + delta beats the raw 12-byte posting layout on this corpus
    assert s["compression_ratio"] < 1.0
    assert s["shard_skew"] >= 1.0
    # telemetry is JVM-only: no Python stage may appear in the plan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seg.stats().explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_wand_matches_oracle(corpus, seg):
    o = OracleIndex()
    for doc_id, text in corpus:
        o.merge(doc_id, text)
    for q in QUERIES:
        got = [(r.doc_id, r.score) for r in seg.search_bm25(q, 10).collect()]
        exp = o.bm25(q, 10)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9), q


@pytest.fixture(scope="module")
def seg_fused(spark, corpus):
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    return build_segments_from_docs(
        spark, docs, IndexConfig(block_size=16), n_shards=4).cache()


@pytest.mark.parametrize("q", QUERIES)
def test_fused_builder_matches_dataframe_path(idx, seg_fused, q):
    """The one-shuffle docs->segments builder must agree with the
    Catalyst BM25 path exactly (same stats, same ranks, same scores)."""
    a = [(r.doc_id, r.score) for r in idx.search_bm25(q, 10).collect()]
    b = [(r.doc_id, r.score) for r in seg_fused.search_bm25(q, 10).collect()]
    assert [d for d, _ in a] == [d for d, _ in b], q
    for (_, sa), (_, sb) in zip(a, b):
        assert sa == pytest.approx(sb, rel=1e-9), q


def test_fused_builder_stats_match(idx, seg_fused):
    n, avgdl = idx.corpus_stats()
    assert seg_fused.n_docs == n
    assert seg_fused.avgdl == pytest.approx(avgdl, rel=1e-12)
    # segments and shard_docs agree on every doc's shard
    seg_shards = {r["shard"] for r in
                  seg_fused.segments.select("shard").distinct().collect()}
    doc_shards = {r["shard"] for r in
                  seg_fused.shard_docs.select("shard").distinct().collect()}
    assert seg_shards == doc_shards


def test_token_and_docs_fronts_write_identical_segments(seg, seg_fused):
    """One shard writer: the token front (segment_index_from) and the
    docs front (build_segments_from_docs) route and encode alike."""
    def seg_rows(ix):
        return sorted(
            (r["shard"], r["term"], r["n_docs"], bytes(r["gaps"]),
             bytes(r["tfs"]), tuple(map(tuple, r["blocks"])))
            for r in ix.segments.collect())

    def doc_rows(ix):
        return sorted(
            (r["shard"], bytes(r["doc_ids"]), bytes(r["doc_lens"]),
             r["n"], r["sum_dl"])
            for r in ix.shard_docs.collect())

    assert seg_rows(seg) == seg_rows(seg_fused)
    assert doc_rows(seg) == doc_rows(seg_fused)
    assert (seg.n_docs, seg.avgdl) == (seg_fused.n_docs, seg_fused.avgdl)
    assert seg.n_shards == seg_fused.n_shards == 4


def test_negative_doc_ids_roundtrip(spark, corpus):
    """Streaming ingest derives doc_id = xxhash64(url), which can be
    NEGATIVE; the varbyte gap codec must stay exact (it is — encoding is
    mod-2^64 consistent through the cumsum) and WAND must rank them."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    neg = [(i - 150, t) for i, t in corpus]  # half the ids negative
    docs = spark.createDataFrame(neg, "doc_id bigint, text string")
    idx_neg = build_index(spark, docs, IndexConfig(block_size=16))
    seg_neg = build_segments_from_docs(
        spark, docs, IndexConfig(block_size=16), n_shards=4)
    for q in ("word1 word7", "word2 word3 word11"):
        a = [(r.doc_id, round(r.score, 9)) for r in
             idx_neg.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             seg_neg.search_bm25(q, 10).collect()]
        assert a == b, q
        assert any(d < 0 for d, _ in a)


def test_int_doc_ids_route_like_bigint(spark):
    """An int doc_id column is routed by the long hash the shard kernel
    recomputes, so each shard keeps ONE doc table through build and
    upsert (hashing it as int split every shard over several tasks)."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    rows = [(i, f"w{i % 7} common") for i in range(60)]
    seg = build_segments_from_docs(
        spark, spark.createDataFrame(rows, "doc_id int, text string"),
        n_shards=4)
    seg = seg.upsert(spark.createDataFrame([(3, "fresh")],
                                           "doc_id int, text string"))
    shards = [r["shard"] for r in seg.shard_docs.collect()]
    assert sorted(shards) == sorted(set(shards))
    assert [r["doc_id"] for r in seg.search_bm25("fresh", 5).collect()] \
        == [3]
    assert len(seg.search_bm25("common", 100).collect()) == 59


def test_segment_upsert_equals_rebuild(spark, corpus):
    """Incremental shard-local upsert must equal a bulk rebuild of the
    final corpus state — the reference's cross-engine equivalence gate
    (SURVEY 5.1) applied to the compressed segment index. Covers
    replacement (changed text), insertion (new doc), and empty-merge
    deletion."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    cfg = IndexConfig(block_size=16)
    base_rows = corpus[:200]
    base = build_segments_from_docs(
        spark, spark.createDataFrame(base_rows, "doc_id bigint, text string"),
        cfg, n_shards=4)

    # delta: re-crawl docs 0-49 with doc 10's text, add docs 300-319,
    # delete docs 50-59 via empty text
    delta_rows = (
        [(i, base_rows[10][1]) for i in range(50)]
        + [(300 + j, base_rows[j][1]) for j in range(20)]
        + [(50 + j, "") for j in range(10)]
    )
    delta = spark.createDataFrame(delta_rows, "doc_id bigint, text string")
    upserted = base.upsert(delta)

    final_state = dict(base_rows)
    for d, t in delta_rows:
        final_state[d] = t
    final_rows = [(d, t) for d, t in sorted(final_state.items()) if t]
    rebuilt = build_segments_from_docs(
        spark, spark.createDataFrame(final_rows, "doc_id bigint, text string"),
        cfg, n_shards=4)

    assert upserted.n_docs == rebuilt.n_docs == len(final_rows)
    assert upserted.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-12)
    ts_a = {(r["term"], r["df"]) for r in upserted.term_stats.collect()}
    ts_b = {(r["term"], r["df"]) for r in rebuilt.term_stats.collect()}
    assert ts_a == ts_b
    for q in ("word1 word7", "word2 word3 word11", "word0"):
        a = [(r.doc_id, round(r.score, 9)) for r in
             upserted.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             rebuilt.search_bm25(q, 10).collect()]
        assert a == b, q
    # snapshot isolation: the base index is unaffected (IndexTests.cs:102-118)
    assert base.n_docs == sum(1 for _, t in base_rows if t)


def test_segment_store_versions_and_delete(spark, corpus, tmp_path):
    """VersionedSegmentStore: atomic versioned commits with snapshot
    isolation (≙ Q5/ImmutableIndex MVCC) over the compressed index;
    delete_ids drops docs from every posting list shard-locally (A3)."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs
    from textindexing_spark.sources.catalog import VersionedSegmentStore

    cfg = IndexConfig(block_size=16)
    store = VersionedSegmentStore(spark, str(tmp_path / "segstore"), cfg)
    rows = corpus[:100]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    seg = build_segments_from_docs(spark, docs, cfg, n_shards=4)
    v1 = store.commit(seg)

    dead = spark.createDataFrame([(i,) for i in range(50)], "doc_id bigint")
    v2 = store.commit(store.load(v1).delete_ids(dead))
    assert store.versions() == [v1, v2]

    latest, pinned = store.load(), store.load(v1)
    n_all = sum(1 for _, t in rows if t)
    n_kept = sum(1 for d, t in rows if t and d >= 50)
    assert pinned.n_docs == n_all      # snapshot isolation
    assert latest.n_docs == n_kept
    got = {r.doc_id for r in latest.search_bm25("word1 word2", 50).collect()}
    assert got and all(d >= 50 for d in got)


def test_segment_roundtrip_save_load(spark, seg, tmp_path):
    path = str(tmp_path / "segidx")
    seg.save(path)
    from textindexing_spark.operators.bm25 import SegmentIndex

    loaded = SegmentIndex(
        spark,
        spark.read.parquet(f"{path}/segments"),
        spark.read.parquet(f"{path}/shard_docs"),
        spark.read.parquet(f"{path}/term_stats"),
        seg.n_docs, seg.avgdl, seg.cfg)
    a = [(r.doc_id, round(r.score, 9)) for r in
         seg.search_bm25("word1 word7", 10).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         loaded.search_bm25("word1 word7", 10).collect()]
    assert a == b


def test_segment_load_runs_no_job(spark, seg, tmp_path):
    """SegmentIndex.load pins its three tables' schemas: no Spark job
    runs (a schema-less parquet read runs one inference job per
    table). A term_stats table written without the ``shards`` column
    still loads and queries, with rare-term pruning off."""
    import copy
    import shutil

    from textindexing_spark.operators.bm25 import SegmentIndex

    path = str(tmp_path / "pinned")
    copy.copy(seg).save(path)  # save() rebinds the saver's tables
    got = []
    assert _jobs_run(spark, lambda: got.append(
        SegmentIndex.load(spark, path, seg.cfg))) == 0
    want = [(r.doc_id, round(r.score, 9)) for r in
            seg.search_bm25("word1 word7", 10).collect()]
    assert [(r.doc_id, round(r.score, 9)) for r in
            got[0].search_bm25("word1 word7", 10).collect()] == want

    old = str(tmp_path / "legacy")
    shutil.copytree(path, old, ignore=shutil.ignore_patterns("term_stats"))
    (spark.read.parquet(f"{path}/term_stats").drop("shards")
     .write.parquet(f"{old}/term_stats"))
    legacy = SegmentIndex.load(spark, old, seg.cfg)
    assert [(r.doc_id, round(r.score, 9)) for r in
            legacy.search_bm25("word1 word7", 10).collect()] == want
    rare = got[0].term_stats.orderBy("df").first()["term"]
    assert got[0].explain_shards(rare)["candidate_shards"] is not None
    assert legacy.explain_shards(rare)["candidate_shards"] is None


def test_index_metadata_on_file_uri(spark, tmp_path, monkeypatch):
    """Both segment tiers read and write their metadata through the
    Hadoop FileSystem of the path's scheme: a file:/// URI round-trips
    and leaves no literal 'file:' directory in the working dir."""
    from textindexing_spark.operators.bm25 import (SegmentIndex,
                                                   build_segments_from_docs)
    from textindexing_spark.operators.phrase import PositionalSegmentIndex

    monkeypatch.chdir(tmp_path)
    uri = (tmp_path / "out").as_uri()
    docs = spark.createDataFrame([(1, "a b c"), (2, "b c d")],
                                 "doc_id bigint, text string")
    seg = build_segments_from_docs(spark, docs, n_shards=2)
    seg.save(f"{uri}/seg")
    back = SegmentIndex.load(spark, f"{uri}/seg")
    assert (back.n_docs, back.avgdl, back.n_shards) == (2, 3.0, 2)
    PositionalSegmentIndex.build(spark, docs, n_shards=2).save(f"{uri}/pos")
    pos = PositionalSegmentIndex.load(spark, f"{uri}/pos")
    assert pos.n_shards == 2
    assert sorted(r.doc_id for r in pos.search_phrase("b c").collect()) \
        == [1, 2]
    # the boolean Index's config round-trips too: loaded without cfg, it
    # still folds queries with the tokenizer it was built with
    from textindexing_spark.operators.query import Index

    cfg = IndexConfig(tokenizer="regex:[a-z_]+")
    build_index(spark, spark.createDataFrame(
        [(1, "foo_bar baz")], "doc_id bigint, text string"),
        cfg).snapshot(f"{uri}/ix")
    ix = Index.load(spark, f"{uri}/ix")
    assert ix.cfg.tokenizer == "regex:[a-z_]+"
    assert [r.doc_id for r in ix.search_bool("foo_bar").collect()] == [1]
    assert not (tmp_path / "file:").exists()


def test_upsert_single_doc_many_shards_keeps_avgdl(spark, corpus):
    """Regression: an upsert touching FEW of MANY shards must still carry
    every untouched shard's doc-length sum into the new index's corpus
    stats (avgdl). Previously untouched shards contributed NULL sum_dl,
    so avgdl collapsed to the touched shards' average and every BM25
    score drifted from a bulk rebuild."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    cfg = IndexConfig(block_size=16)
    base_rows = corpus[:200]
    base = build_segments_from_docs(
        spark, spark.createDataFrame(base_rows, "doc_id bigint, text string"),
        cfg, n_shards=32)

    delta = spark.createDataFrame([(500, base_rows[3][1])],
                                  "doc_id bigint, text string")
    upserted = base.upsert(delta)

    final_rows = [(d, t) for d, t in
                  sorted(dict(base_rows + [(500, base_rows[3][1])]).items())
                  if t]
    rebuilt = build_segments_from_docs(
        spark, spark.createDataFrame(final_rows, "doc_id bigint, text string"),
        cfg, n_shards=32)
    assert upserted.n_docs == rebuilt.n_docs
    assert upserted.avgdl == pytest.approx(rebuilt.avgdl, rel=1e-12)
    for q in ("word1 word7", "word0"):
        a = [(r.doc_id, round(r.score, 9)) for r in
             upserted.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             rebuilt.search_bm25(q, 10).collect()]
        assert a == b, q

    # a fully-empty delta must neither crash nor change corpus stats
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    same = base.upsert(empty)
    assert same.n_docs == base.n_docs
    assert same.avgdl == pytest.approx(base.avgdl, rel=1e-12)

    # delete-only delta: stats reflect the survivors exactly
    dead = spark.createDataFrame([(d,) for d, _ in base_rows[:5]],
                                 "doc_id bigint")
    pruned = base.delete_ids(dead)
    survivors = [(d, t) for d, t in base_rows[5:] if t]
    re2 = build_segments_from_docs(
        spark, spark.createDataFrame(survivors, "doc_id bigint, text string"),
        cfg, n_shards=32)
    assert pruned.n_docs == re2.n_docs
    assert pruned.avgdl == pytest.approx(re2.avgdl, rel=1e-12)


def test_batched_wand_matches_per_query(seg):
    """search_bm25_many must return, per query, exactly what per-query
    search_bm25 returns — one Spark job for the whole set (the round-1
    query-throughput-scaling fix)."""
    batched = seg.search_bm25_many(QUERIES, 10).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r.query_id, []).append((r.doc_id,
                                                round(r.score, 9)))
    for q in QUERIES:
        single = [(r.doc_id, round(r.score, 9)) for r in
                  seg.search_bm25(q, 10).collect()]
        assert by_q.get(q, []) == single, q
    # dict form: explicit ids
    named = seg.search_bm25_many({"a": "word1 word7"}, 5).collect()
    assert {r.query_id for r in named} == {"a"}
    assert [(r.doc_id, round(r.score, 9)) for r in named] == [
        (r.doc_id, round(r.score, 9)) for r in
        seg.search_bm25("word1 word7", 5).collect()]
    # int ids come back as bigint query_ids
    texts = {0: "word1 word7", 7: "word2 word3 word11"}
    typed = seg.search_bm25_many(texts, 5)
    assert dict(typed.dtypes)["query_id"] == "bigint"
    by_id = {}
    for r in typed.collect():
        by_id.setdefault(r.query_id, []).append((r.doc_id,
                                                 round(r.score, 9)))
    assert by_id == {qid: [(r.doc_id, round(r.score, 9)) for r in
                           seg.search_bm25(q, 5).collect()]
                     for qid, q in texts.items()}
    # mixed ids are refused before any Spark job runs
    def mixed():
        with pytest.raises(TypeError, match="all int or all str"):
            seg.search_bm25_many({0: "word1", "b": "word7"}, 5)

    assert _jobs_run(seg.spark, mixed) == 0


def _jobs_run(spark, action) -> int:
    """Spark jobs launched while ``action()`` runs (job-group count)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_prepared_single_wand_query_is_one_job(seg):
    """A prepared single WAND query is ONE Spark job: the per-shard
    cogroup plus a TakeOrderedAndProject reduce — never the batched
    path's window reduce, which costs extra jobs for a single query."""
    import contextlib
    import copy
    import io

    grouped = copy.copy(seg)
    grouped.prepare_for_queries(query_groups=2)
    q = "word2 word3 word11"
    grouped.search_bm25(q, 10).collect()  # warm the df cache
    assert _jobs_run(grouped.spark,
                     lambda: grouped.search_bm25(q, 10).collect()) == 1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        grouped.search_bm25(q, 10).explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()
    assert "Window" not in buf.getvalue()


def test_query_group_coalescing_is_rank_identical(seg):
    """prepare_for_queries(query_groups=G) coalesces shards into G tasks
    per query; results (single and batched) must be identical to
    per-shard evaluation."""
    import copy

    grouped = copy.copy(seg)
    grouped.prepare_for_queries(query_groups=2)
    for q in ("word1 word7", "word2 word3 word11", "word0"):
        a = [(r.doc_id, round(r.score, 9)) for r in
             seg.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             grouped.search_bm25(q, 10).collect()]
        assert a == b, q
    many = grouped.search_bm25_many(["word1 word7", "word0"], 5).collect()
    by_q = {}
    for r in many:
        by_q.setdefault(r.query_id, []).append((r.doc_id,
                                                round(r.score, 9)))
    for q in ("word1 word7", "word0"):
        assert by_q[q] == [(r.doc_id, round(r.score, 9)) for r in
                           seg.search_bm25(q, 5).collect()], q


def test_rare_term_shard_pruning(spark, corpus, tmp_path):
    """A rare-term query must touch < all shards: term_stats carries a
    per-shard membership summary, the query schedules only shards
    holding >= 1 query term (pushed In(shard,...) on BOTH cogroup
    sides), and results are identical to the unpruned evaluation. A
    head-term query (term in every shard) must NOT attempt pruning."""
    import copy

    from tests.test_plans import _plan
    from textindexing_spark.operators.bm25 import (
        SegmentIndex, build_segments_from_docs)

    cfg = IndexConfig(block_size=16)
    rows = list(corpus[:200]) + [(9001, "zzrareterm word1")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    built = build_segments_from_docs(spark, docs, cfg, n_shards=8)
    built.save(str(tmp_path / "pseg"))
    seg2 = SegmentIndex.load(spark, str(tmp_path / "pseg"), cfg)

    # the summary itself: rare term in exactly 1 shard, head term NULL
    seg2._term_dfs(["zzrareterm", "word1"])
    assert seg2._candidate_shards(["zzrareterm"]) is not None
    assert len(seg2._candidate_shards(["zzrareterm"])) == 1
    assert seg2._candidate_shards(["word1"]) is None       # head term
    assert seg2._candidate_shards(["zzrareterm", "word1"]) is None

    # explain_shards narrates the same decision driver-side
    ex = seg2.explain_shards("zzrareterm")
    assert ex["n_shards"] == 8 and ex["n_scheduled"] == 1
    assert ex["pruned_fraction"] == pytest.approx(7 / 8)
    assert ex["terms"]["zzrareterm"] == 1
    head = seg2.explain_shards("word1")
    assert head["candidate_shards"] is None
    assert head["n_scheduled"] == 8 and head["pruned_fraction"] == 0.0
    absent = seg2.explain_shards("qqnosuchterm")
    assert absent["n_scheduled"] == 0 and absent["terms"] == {
        "qqnosuchterm": 0}

    # plan guard: the rare-term query pushes the shard predicate into
    # the parquet scans of BOTH sides (Catalyst folds a 1-element isin
    # to EqualTo); the head-term query pushes none
    p = _plan(seg2.search_bm25("zzrareterm", 5))
    assert p.count("EqualTo(shard,") + p.count("In(shard, [") >= 2, p
    p_head = _plan(seg2.search_bm25("word1", 5))
    assert "EqualTo(shard," not in p_head and "In(shard, [" not in p_head

    # exactness: pruned == pruning-disabled, single and batched
    pruned = [(r.doc_id, round(r.score, 9)) for r in
              seg2.search_bm25("zzrareterm", 5).collect()]
    assert len(pruned) == 1 and pruned[0][0] == 9001
    off = copy.copy(seg2)
    off._shard_cache = {}
    assert pruned == [(r.doc_id, round(r.score, 9)) for r in
                      off.search_bm25("zzrareterm", 5).collect()]
    many = seg2.search_bm25_many({"r": "zzrareterm"}, 5).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in many] == pruned

    # serving layout (query_groups): pruning filters the _qg partition
    # column too and stays rank-identical
    grouped = copy.copy(seg2)
    grouped._shard_cache = dict(seg2._shard_cache)
    grouped.prepare_for_queries(query_groups=4)
    assert pruned == [(r.doc_id, round(r.score, 9)) for r in
                      grouped.search_bm25("zzrareterm", 5).collect()]
    assert [(r.doc_id, round(r.score, 9)) for r in
            grouped.search_bm25("word1 zzrareterm", 10).collect()] == [
        (r.doc_id, round(r.score, 9)) for r in
        seg2.search_bm25("word1 zzrareterm", 10).collect()]


@pytest.fixture(scope="module")
def snapshots(spark, corpus):
    """Two cold snapshots: a 4-shard index with one rare term, and what
    an upsert with deletes, a recrawl and new docs leaves of it."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    cfg = IndexConfig(block_size=16)
    rows = list(corpus[:200]) + [(9001, "zzrareterm word1")]
    schema = "doc_id bigint, text string"
    base = build_segments_from_docs(
        spark, spark.createDataFrame(rows, schema), cfg, n_shards=4)
    upd = base.upsert(spark.createDataFrame(
        [(0, ""), (1, ""), (2, "word1 word7 word7 fresh"),
         (9002, "zzrareterm word7")], schema))
    return {"base": base, "upserted": upd}


# (query, pages compared): a head-term query, a rare-term query that
# prunes shards and one with an absent term
PAGED = [("word1 word7", 3), ("zzrareterm", 2),
         ("zzabsent word2 word3", 3)]


def _pages(search, q, k, n):
    out, after = [], None
    for _ in range(n):
        rows = search(q, k, after=after).collect()
        out.append([(r.doc_id, round(r.score, 9)) for r in rows])
        if not rows:
            break
        after = rows[-1]
    return out


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 9)))
    return out


def _batch_pages(seg, texts, k):
    """Page 1 of a batch, then page 2 through per-query cursors (one
    query left without a cursor, so it returns page 1 again)."""
    page1 = seg.search_bm25_many(texts, k).collect()
    last = {}
    for r in page1:
        last[r.query_id] = r
    cursors = {q: last[q] for q in list(last)[:-1]}
    page2 = seg.search_bm25_many(texts, k, after=cursors).collect()
    return _by_query(page1), _by_query(page2)


BATCH_INT = {0: "word1 word7", 7: "zzrareterm", 9: "word2 word3 word11",
             12: "zzabsent"}
BATCH_STR = {"a": "word0 word4", "b": "zzabsent word9", "c": "word1"}


@pytest.fixture(scope="module")
def cold_answers(snapshots):
    """Each snapshot's unprepared (block-max WAND) answers, computed once
    for every query_groups case."""
    return {name: {"paged": {q: _pages(seg.search_bm25, q, 4, n)
                             for q, n in PAGED},
                   "int": _batch_pages(seg, BATCH_INT, 3),
                   "str": _batch_pages(seg, BATCH_STR, 3)}
            for name, seg in snapshots.items()}


@pytest.mark.parametrize("groups", [None, 2, 4])
def test_prepared_matches_cold_wand(snapshots, cold_answers, groups):
    """A prepared session (exhaustive Catalyst scoring over the decoded
    posting cache) is rank-identical to block-max WAND on the same cold
    snapshot: keyset pages 1-3, batches with int and str ids and
    per-query cursors, absent terms, a shard-pruning rare-term query,
    and an index prepared after an upsert with deletes."""
    import copy

    for name, cold in snapshots.items():
        want = cold_answers[name]
        hot = copy.copy(cold).prepare_for_queries(query_groups=groups)
        assert hot._candidate_shards(["zzrareterm"]) is not None
        assert len(hot._candidate_shards(["zzrareterm"])) < 4
        for q, n in PAGED:
            assert _pages(hot.search_bm25, q, 4, n) == want["paged"][q], (
                name, q)
        assert _batch_pages(hot, BATCH_INT, 3) == want["int"], name
        assert _batch_pages(hot, BATCH_STR, 3) == want["str"], name
        typed = hot.search_bm25_many(BATCH_INT, 3)
        assert dict(typed.dtypes)["query_id"] == "bigint"
        assert _jobs_run(hot.spark, lambda: hot.search_bm25(
            "zzabsent qqnothing", 5).collect()) == 0
        assert _jobs_run(hot.spark, lambda: hot.search_bm25_many(
            ["zzabsent", "qqnothing"], 5).collect()) == 0
        hot._postings.unpersist()


def test_segment_store_expire(spark, corpus, tmp_path):
    """expire() drops old self-contained segment versions; the kept
    latest stays fully queryable."""
    from textindexing_spark.operators.bm25 import build_segments_from_docs
    from textindexing_spark.sources.catalog import VersionedSegmentStore

    cfg = IndexConfig(block_size=16)
    store = VersionedSegmentStore(spark, str(tmp_path / "exp"), cfg)
    docs = spark.createDataFrame(corpus[:60], "doc_id bigint, text string")
    seg = build_segments_from_docs(spark, docs, cfg, n_shards=4)
    v1 = store.commit(seg)
    v2 = store.commit(store.load(v1).upsert(spark.createDataFrame(
        [(900, "brand new words")], "doc_id bigint, text string")))
    v3 = store.commit(store.load(v2).upsert(spark.createDataFrame(
        [(901, "more words")], "doc_id bigint, text string")))
    assert store.versions() == [v1, v2, v3]
    expired = store.expire(keep_last=1)
    assert expired == [v1, v2]
    assert store.versions() == [v3]
    latest = store.load()
    assert latest.search_bm25("brand new", 5).count() >= 1
    # keep_last=0 clamps to 1: the version LATEST points at must survive
    assert store.expire(keep_last=0) == []
    assert store.versions() == [v3]
    assert store.load().search_bm25("brand new", 5).count() >= 1


class _StubSeg:
    """Spark-free stand-in for a SegmentIndex: ``save`` writes one file."""

    def save(self, path):
        with open(f"{path}/part", "w") as fh:
            fh.write(path)


def _stub_store(root):
    """A VersionedSegmentStore whose ``load`` reads a _StubSeg version
    back (raising if its directory is gone)."""
    from textindexing_spark.sources.catalog import VersionedSegmentStore

    class Loader:
        @staticmethod
        def load(spark, path, cfg):
            with open(f"{path}/part") as fh:
                return fh.read()

    class Store(VersionedSegmentStore):
        def _index_class(self):
            return Loader

    return Store(None, root)


def test_segment_store_expire_never_deletes_latest(tmp_path):
    """A crashed writer's claimed-but-unpublished v3 slot must not count
    as a version: expire(keep_last=1) keeps v2, the one LATEST points
    at, and leaves v3 to the grace window."""
    import os

    store = _stub_store(str(tmp_path / "exp"))
    assert store.commit(_StubSeg()) == 1
    assert store.commit(_StubSeg()) == 2
    os.mkdir(f"{store.root}/v3")
    assert store.expire(keep_last=1) == [1]
    assert os.path.isdir(f"{store.root}/v2")
    assert store.load() == f"{store.root}/v2"
    assert store.versions() == [2]


def test_segment_store_stale_writer_commit_raises(tmp_path):
    """Two writers read v1; B commits v2; A's commit, built from v1, must
    raise instead of publishing a version without B's batch — and must
    leave no slot behind that would read as a version."""
    from textindexing_spark.sources.versionlog import ConcurrentWriterError

    root = str(tmp_path / "race")
    a, b = _stub_store(root), _stub_store(root)
    a.commit(_StubSeg(), expect_prev=None)
    read_a, read_b = a.latest_version(), b.latest_version()
    assert b.commit(_StubSeg(), expect_prev=read_b) == 2
    with pytest.raises(ConcurrentWriterError, match="from v1 to v2"):
        a.commit(_StubSeg(), expect_prev=read_a)
    assert a.latest_version() == 2 and a.versions() == [1, 2]
    assert a.load() == f"{root}/v2"


def test_upsert_duplicate_doc_ids_in_batch(spark):
    """A batch carrying the same doc_id twice (retry that unioned a
    change set with itself) must index the doc ONCE — duplicate
    encoding would corrupt the doc table and let one doc occupy two
    top-k slots."""
    from textindexing_spark.operators.bm25 import (
        SegmentIndex, build_segments_from_docs)

    base = build_segments_from_docs(
        spark, spark.createDataFrame([(1, "alpha beta"), (2, "gamma")],
                                     "doc_id bigint, text string"),
        n_shards=4)
    dup = spark.createDataFrame(
        [(3, "delta alpha"), (3, "delta alpha"), (2, "gamma revised")],
        "doc_id bigint, text string")
    merged = base.upsert(dup)
    assert merged.n_docs == 3
    hits = merged.search_bm25("delta", 10).collect()
    assert [r["doc_id"] for r in hits] == [3]
    # self-union = the common retry shape
    batch = spark.createDataFrame([(4, "epsilon")],
                                  "doc_id bigint, text string")
    again = merged.upsert(batch.unionAll(batch))
    assert again.n_docs == 4
    assert [r["doc_id"] for r in
            again.search_bm25("epsilon", 10).collect()] == [4]


def test_shard_routing_survives_elided_repartition(spark):
    """The shard column must derive from doc_id (murmur3 twin), not the
    physical partition id: when the upsert input is already
    hash-partitioned on doc_id with N == shuffle.partitions (e.g. a
    dropDuplicates upstream, as this test builds), Catalyst elides the
    'redundant' repartition and AQE coalesces the remaining exchange —
    a partitionId-derived shard then mis-routes every row and deletes
    stop matching their resident shard."""
    from textindexing_spark.operators.bm25 import (
        build_segments_from_docs)

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.createDataFrame(
        [(i, f"common word{i}") for i in range(12)],
        "doc_id bigint, text string")
    base = build_segments_from_docs(spark, docs, n_shards=n)
    # the hazardous input shape: aggregated (hash-partitioned) upstream
    delta = (spark.createDataFrame(
        [(5, ""), (20, "common fresh")], "doc_id bigint, text string")
        .dropDuplicates(["doc_id"]))
    merged = base.upsert(delta)
    assert merged.n_docs == 12  # doc 5 deleted, doc 20 added
    assert [r["doc_id"] for r in
            merged.search_bm25("word5", 10).collect()] == []
    assert [r["doc_id"] for r in
            merged.search_bm25("fresh", 10).collect()] == [20]
    # rank-identity with a bulk build of the final state
    final = docs.where("doc_id <> 5").unionAll(spark.createDataFrame(
        [(20, "common fresh")], "doc_id bigint, text string"))
    bulk = build_segments_from_docs(spark, final, n_shards=n)
    a = [(r.doc_id, round(r.score, 9)) for r in
         merged.search_bm25("common", 20).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         bulk.search_bm25("common", 20).collect()]
    assert a == b
