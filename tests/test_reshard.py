"""SegmentIndex.reshard: shard splitting/coalescing at the compressed-blob
level, plus the plan_reshard policy and the reshard CLI. Contract: (1) codec.spark_hash_long is bit-identical to Spark's
``F.hash`` on BIGINT (the invariant that keeps post-reshard upserts routing
to the right shard), (2) a reshard is invisible to queries (rank- and
score-identical top-k), (3) reshard composes with upsert exactly like an
index BUILT at the new shard count, (4) every child shard's doc set is the
one Spark's HashPartitioning would produce."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from textindexing_spark import IndexConfig
from textindexing_spark.operators import codec
from textindexing_spark.operators.bm25 import build_segments_from_docs
from textindexing_spark.sources.pages import generate_pages_rows

QUERIES = [
    "word1",
    "word1 word7",
    "word2 word3 word11",
    "word42 word100 word5",
    "zzabsent word9",
    "word0 word1 word2 word3 word4",
]


@pytest.fixture(scope="module")
def corpus():
    return [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=260, seed=23))]


@pytest.fixture(scope="module")
def base(spark, corpus):
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    return build_segments_from_docs(
        spark, docs, IndexConfig(block_size=16), n_shards=4).cache()


def test_spark_hash_long_matches_spark(spark):
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.integers(-2**63, 2**63 - 1, size=500, dtype=np.int64),
        np.array([0, 1, -1, 42, 2**63 - 1, -2**63, 2**31, -2**31],
                 dtype=np.int64)])
    df = spark.createDataFrame([(int(v),) for v in vals], "v bigint")
    got = {r["v"]: r["h"] for r in
           df.select("v", F.hash("v").alias("h")).collect()}
    ours = codec.spark_hash_long(vals)
    for v, h in zip(vals.tolist(), ours.tolist()):
        assert got[v] == h, v
    # placement keys: keys[t] lands in partition t under F.hash on BIGINT
    for n in (1, 2, 3, 4, 8, 64):
        keys = codec.placement_keys(n)
        kdf = spark.createDataFrame([(int(k),) for k in keys], "k bigint")
        parts = [r["p"] for r in kdf.select(
            F.pmod(F.hash("k"), F.lit(n)).alias("p")).collect()]
        assert parts == list(range(n)), n
        assert (keys >= 0).all()


@pytest.mark.parametrize("n", [4, 8])
def test_upsert_merges_one_shard_per_task(spark, corpus, n):
    """The upsert cogroup runs one shard per task: shard s is merged in
    partition s of the merged frame (grouping by the int shard column
    hashes 4 shards into 2 tasks)."""
    docs = spark.createDataFrame(corpus[:120], "doc_id bigint, text string")
    base = build_segments_from_docs(spark, docs, IndexConfig(block_size=16),
                                    n_shards=n)
    delta = spark.createDataFrame(
        [(i, "fresh words") for i in range(0, 120, 7)]
        + [(1000 + i, "new doc") for i in range(12)],
        "doc_id bigint, text string")
    merged = base.upsert(delta)
    placed = (merged._fused.select(F.spark_partition_id().alias("p"),
                                   "shard").distinct().collect())
    by_part = {}
    for r in placed:
        by_part.setdefault(r["p"], set()).add(r["shard"])
    assert by_part == {s: {s} for s in range(n)}
    merged.unpersist()
    base.unpersist()


def test_reshard_is_rank_and_score_identical(base):
    grown = base.reshard(16).cache()
    assert grown.n_shards == 16
    assert grown.n_docs == base.n_docs
    assert grown.avgdl == pytest.approx(base.avgdl)
    for q in QUERIES:
        a = [(r.doc_id, r.score) for r in base.search_bm25(q, 10).collect()]
        b = [(r.doc_id, r.score) for r in grown.search_bm25(q, 10).collect()]
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, rel=1e-9), q


def test_reshard_children_match_spark_partitioning(base):
    grown = base.reshard(8)
    for r in grown.shard_docs.collect():
        ids = codec.varbyte_decode(np.frombuffer(r["doc_ids"],
                                                 dtype=np.uint8))
        want = np.mod(codec.spark_hash_long(ids).astype(np.int64), 8)
        assert (want == r["shard"]).all(), r["shard"]
    # postings conserved, not duplicated
    assert (grown.segments.agg(F.sum("n_docs")).collect()[0][0]
            == base.segments.agg(F.sum("n_docs")).collect()[0][0])


def test_reshard_then_upsert_equals_build_at_new_count(spark, base, corpus):
    """The operational sequence a growing deployment runs: reshard, then
    keep ingesting. Must equal an index built at the new shard count over
    the post-ingest corpus (re-crawl replaces, new doc inserts)."""
    delta = [(3, "fresh recrawl text word1 word1 word7"),
             (9999, "brand new document word1 word100")]
    after = dict(corpus)
    after.update(delta)
    got = base.reshard(8).upsert(
        spark.createDataFrame(delta, "doc_id bigint, text string"))
    want = build_segments_from_docs(
        spark,
        spark.createDataFrame(sorted(after.items()),
                              "doc_id bigint, text string"),
        IndexConfig(block_size=16), n_shards=8)
    for q in QUERIES + ["fresh recrawl", "brand word100"]:
        a = [(r.doc_id, round(r.score, 9)) for r in
             got.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             want.search_bm25(q, 10).collect()]
        assert a == b, q


def test_reshard_shrink_roundtrip_is_exact(base):
    """4 -> 16 -> 4 must reproduce the original index BYTE-FOR-BYTE:
    split then coalesce re-encodes the same sorted postings, and the
    codec is deterministic — so segment blobs, block metadata, and doc
    tables all round-trip exactly."""
    back = base.reshard(16).reshard(4)

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

    assert seg_rows(back) == seg_rows(base)
    assert doc_rows(back) == doc_rows(base)
    assert (back.n_docs, back.avgdl) == (base.n_docs, base.avgdl)


def test_reshard_shrink_equals_build_at_lower_count(spark, base, corpus):
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    want = build_segments_from_docs(
        spark, docs, IndexConfig(block_size=16), n_shards=2)
    got = base.reshard(2)
    for q in QUERIES:
        a = [(r.doc_id, round(r.score, 9)) for r in
             got.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             want.search_bm25(q, 10).collect()]
        assert a == b, q


def test_reshard_guards(spark, base, tmp_path):
    with pytest.raises(ValueError, match="multiple or divisor"):
        base.reshard(6)
    with pytest.raises(ValueError, match="multiple or divisor"):
        base.reshard(3)
    with pytest.raises(ValueError, match="multiple or divisor"):
        base.reshard(0)
    assert base.reshard(4) is base
    import json

    from textindexing_spark.operators.bm25 import (SegmentIndex,
                                                   segment_index_from)
    from textindexing_spark import build_index

    # a save without a known shard count (older build CLI output, routed
    # by pmod(doc_id, S)) must refuse a rewrite rather than mis-route
    docs = spark.createDataFrame([(1, "a b"), (2, "b c")],
                                 "doc_id bigint, text string")
    segment_index_from(build_index(spark, docs), n_shards=2).save(
        str(tmp_path / "legacy"))
    meta = tmp_path / "legacy" / "_meta.json"
    meta.write_text(json.dumps({**json.loads(meta.read_text()),
                                "n_shards": None}))
    (tmp_path / "legacy" / "._meta.json.crc").unlink(missing_ok=True)
    legacy = SegmentIndex.load(spark, str(tmp_path / "legacy"))
    with pytest.raises(ValueError, match="needs n_shards"):
        legacy.reshard(4)


def test_plan_reshard_policy(base):
    summary = base.stats_summary()
    mx = max(r["postings_bytes"] + r["doc_table_bytes"]
             for r in base.stats().collect())
    # tiny target -> grow to a multiple whose est child max fits
    grow = base.plan_reshard(target_shard_bytes=max(mx // 8, 1))
    assert grow["action"] == "grow"
    assert grow["recommended"] % base.n_shards == 0
    assert grow["recommended"] > base.n_shards
    assert grow["est_max_after"] <= grow["target_shard_bytes"]
    # huge target -> shrink to a divisor, never below 1
    shrink = base.plan_reshard(target_shard_bytes=mx * base.n_shards * 10)
    assert shrink["action"] == "shrink"
    assert base.n_shards % shrink["recommended"] == 0
    assert shrink["recommended"] >= 1
    # the recommendation is actionable
    assert base.reshard(shrink["recommended"]).n_shards \
        == shrink["recommended"]
    # just-right target -> keep
    keep = base.plan_reshard(target_shard_bytes=int(mx * 1.5))
    assert keep["action"] == "keep"
    assert keep["recommended"] == base.n_shards
    assert summary["n_shards"] == base.n_shards


def test_reshard_cli(spark, base, tmp_path, capsys, monkeypatch):
    import importlib.util
    import json
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "reshard_index_submit",
        repo / "scripts" / "reshard_index_submit.py")
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    src = str(tmp_path / "seg4")
    base.save(src)
    cli.main(["--index", src, "--plan"])
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan["plan"]["n_shards"] == 4

    out_dir = str(tmp_path / "seg8")
    cli.main(["--index", src, "--output", out_dir, "--shards", "8"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (out["n_shards_before"], out["n_shards_after"]) == (4, 8)
    assert out["stats_after"]["n_shards"] == 8

    from textindexing_spark.operators.bm25 import SegmentIndex

    reloaded = SegmentIndex.load(spark, out_dir)
    for q in QUERIES[:3]:
        a = [(r.doc_id, round(r.score, 9)) for r in
             base.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             reloaded.search_bm25(q, 10).collect()]
        assert a == b, q

    with pytest.raises(SystemExit, match="--output"):
        cli.main(["--index", src])


# --- positional tier (operators/phrase.py) --------------------------------

PHRASES = ["word1 word2", "word3", "word1 word2 word3", "zzabsent word1"]


@pytest.fixture(scope="module")
def pos_base(spark, corpus):
    from textindexing_spark.operators.phrase import PositionalSegmentIndex

    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    return PositionalSegmentIndex.build(spark, docs, n_shards=4).cache()


def _phrase_ids(ix, phrase):
    return sorted(r["doc_id"] for r in ix.search_phrase(phrase).collect())


def test_positional_reshard_grow_and_shrink(spark, pos_base):
    grown, small = pos_base.reshard(16), pos_base.reshard(2)
    assert (grown.n_shards, small.n_shards) == (16, 2)
    for ix in (grown, small):
        for p in PHRASES:
            assert _phrase_ids(ix, p) == _phrase_ids(pos_base, p), p
        got = sorted(r["doc_id"] for r in
                     ix.search_near("word1 word5", 4).collect())
        want = sorted(r["doc_id"] for r in
                      pos_base.search_near("word1 word5", 4).collect())
        assert got == want
    # grow children carry only their own docs: pmod(doc_id, 16) == shard
    for r in grown.segments.collect():
        ids, _pl, _st, _fl = __import__(
            "textindexing_spark.operators.phrase",
            fromlist=["_decode_pos_term"])._decode_pos_term(
            r["n_docs"], r["gaps_blob"], r["plens_blob"], r["pos_blob"],
            np)
        assert (np.mod(ids, 16) == r["shard"]).all()


def test_positional_reshard_roundtrip_is_exact(pos_base):
    back = pos_base.reshard(16).reshard(4)

    def rows(ix):
        return sorted(
            (r["shard"], r["term"], r["n_docs"], bytes(r["gaps_blob"]),
             bytes(r["plens_blob"]), bytes(r["pos_blob"]))
            for r in ix.segments.collect())

    assert rows(back) == rows(pos_base)


def test_positional_reshard_then_upsert(spark, pos_base):
    delta = [(3, "word1 word2 word2 word1 word2"),
             (8888, "word1 word2 never word3")]
    got = pos_base.reshard(8).upsert(
        spark.createDataFrame(delta, "doc_id bigint, text string"))
    assert 3 in _phrase_ids(got, "word2 word1 word2")
    assert 8888 in _phrase_ids(got, "never word3")
    base_hits = set(_phrase_ids(pos_base, "word1 word2"))
    got_hits = set(_phrase_ids(got, "word1 word2"))
    assert 8888 in got_hits and 3 in got_hits
    assert got_hits - {3, 8888} <= base_hits


def test_positional_reshard_guards(pos_base):
    with pytest.raises(ValueError, match="multiple or divisor"):
        pos_base.reshard(6)
    assert pos_base.reshard(4) is pos_base
