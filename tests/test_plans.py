"""Physical-plan regression guards — the optimizations PLANS.md claims
must stay in the plan: filter pushdown to the parquet scan, column
pruning, broadcast join for the documents dim table, TakeOrdered top-k.
A refactor that silently de-optimizes a path fails here, not in prod."""

import contextlib
import io

import pytest

from textindexing_spark import IndexConfig, build_index
from textindexing_spark.sources.pages import generate_pages_rows


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def snap(spark, tmp_path_factory):
    rows = [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=120, seed=7))]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = build_index(spark, docs, IndexConfig())
    # parquet-backed snapshot: pushdown is only visible on a file scan
    return idx.snapshot(str(tmp_path_factory.mktemp("planidx")))


def test_exact_lookup_pushes_filter(snap):
    p = _plan(snap.exact("word1"))
    assert "EqualTo(term,word1)" in p
    assert "doc_len" not in p  # documents table not touched


def test_prefix_pushes_startswith(snap):
    p = _plan(snap.prefix("word"))
    assert "StringStartsWith(term,word)" in p


def test_words_prunes_columns(snap):
    p = _plan(snap.words())
    assert "ReadSchema: struct<term:string>" in p


def test_bool_exact_tokens_share_one_scan(snap):
    p = _plan(snap.search_bool("word1 word2"))
    # both exact tokens ride ONE pushed In(...) filter
    assert "In(term, [word1,word2])" in p


def test_bool_rarest_first_broadcast_semi_join(snap):
    """Boolean AND must semi-join the rarest token's doc set into the
    other tokens' scans BEFORE the intersection aggregation (broadcast,
    so no head-term postings reach the shuffle)."""
    p = _plan(snap.search_bool("word1 word2"))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_bool_absent_token_short_circuits(snap):
    """A token that matches nothing empties the AND without scanning
    any posting arrays."""
    df = snap.search_bool("word1 zzz_never_a_term")
    assert "Scan parquet" not in _plan(df)
    assert df.count() == 0


def test_bm25_broadcasts_documents_and_takeordered(snap):
    p = _plan(snap.search_bm25("word1 word2", 10))
    assert "BroadcastHashJoin" in p  # dim side broadcast, no postings shuffle
    assert "TakeOrderedAndProject" in p  # top-k, never a global sort


def test_explain_bm25_pruned_scan_and_broadcast_topk(snap):
    """explain_bm25: the weight frame keeps the pruned In-filter term
    scan, the ranked top-k joins back as a BROADCAST hash join (k rows,
    never a shuffle keyed on doc_id), and no Python stage appears."""
    p = _plan(snap.explain_bm25("word1 word2", 5))
    assert "In(term, [word1,word2])" in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # the ranking inside the join
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_phrase_scans_pruned_and_broadcast_joined(spark, tmp_path):
    """Phrase search: each query term must be a term-pruned parquet scan
    (pushed EqualTo), the doc_id joins must broadcast (never shuffle
    postings), and no shuffle exchange may appear in the plan."""
    from textindexing_spark.operators.phrase import PositionalIndex

    rows = [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=120, seed=7))]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "posidx")
    PositionalIndex.build(spark, docs).save(path)
    pidx = PositionalIndex.load(spark, path)
    p = _plan(pidx.search_phrase("word1 word2 word3"))
    for t in ("word1", "word2", "word3"):
        assert f"EqualTo(term,{t})" in p
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_lsm_view_pushes_term_filter_to_all_scans(spark, tmp_path):
    """The LSM resolved view (base buckets + deltas) must keep lookup
    predicates pushed into EVERY parquet scan: term filters travel
    through the re-aggregation, union, explode, and anti-joins down to
    both the base bucket files and the delta token files."""
    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "pushidx"),
                               n_term_buckets=8, n_doc_buckets=4)
    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} common") for i in range(50)],
        "doc_id bigint, text string")
    store.commit_merge(docs, mode="rewrite")
    store.commit_merge(spark.createDataFrame(
        [(100, "fresh w3")], "doc_id bigint, text string"))
    idx = store.load()
    p = _plan(idx.exact("w3"))
    assert p.count("EqualTo(term,w3)") >= 2  # base scan AND delta scan


def test_search_expr_semi_anti_joins_and_pushed_filters(snap):
    """The boolean-language plan must keep: pushed per-term filters,
    LeftSemi for AND, LeftAnti for NOT — and an absent positive
    conjunct must short-circuit without scanning postings."""
    p = _plan(snap.search_expr("(word1 OR word2) AND NOT word3"))
    assert "LeftAnti" in p
    assert "EqualTo(term,word3)" in p
    p2 = _plan(snap.search_expr("word1 AND (word2 OR word3)"))
    assert "LeftSemi" in p2
    df = snap.search_expr("zzz_never AND (word1 OR word2)")
    assert "Scan parquet" not in _plan(df)
    assert df.count() == 0


def test_search_near_pushes_term_filters(spark, tmp_path):
    """Array-tier proximity: per-term pruned scans (pushed EqualTo) and
    NO shuffle beyond the doc_id joins — the window check is a JVM-side
    higher-order filter, never a Python stage."""
    from textindexing_spark.operators.phrase import PositionalIndex
    from textindexing_spark.sources.pages import generate_pages_rows

    rows = [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=80, seed=7))]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "pos")
    PositionalIndex.build(spark, docs).save(path)
    pidx = PositionalIndex.load(spark, path)
    p = _plan(pidx.search_near("word1 word2", 3))
    assert "EqualTo(term,word1)" in p
    assert "EqualTo(term,word2)" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "exists" in p.lower()  # the HOF window check stayed JVM-side


def test_fuzzy_expr_pushes_in_filter(snap):
    """A fuzzy node evaluates as ONE pruned isin scan over its
    expansion set (pushed In filter), never a full-dictionary
    levenshtein scan in the QUERY plan (expansion happens ahead of
    planning); an empty expansion short-circuits."""
    p = _plan(snap.search_expr("word1~1"))
    assert "In(term, [" in p or "EqualTo(term," in p
    assert "levenshtein" not in p
    df = snap.search_expr("zzz_never_a_term~0")
    assert "Scan parquet" not in _plan(df)
    assert df.count() == 0


def test_more_like_this_single_scoring_plan(snap):
    """more_like_this = driver-side term selection + the bm25_scores
    plan: pruned postings scan, broadcast dim join, one top-k reduce."""
    row = snap.documents.limit(1).collect()[0]
    text = "word1 word2 word3 word4"
    p = _plan(snap.more_like_this(text, 5, min_df=1, max_df_ratio=1.0))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "In(term, [" in p or "EqualTo(term," in p


def test_chunk_tokens_no_exchange(spark):
    from textindexing_spark.functions.sampling import chunk_tokens

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h")], "doc_id bigint, text string")
    p = _plan(chunk_tokens(docs, 4, overlap=1))
    assert "Exchange" not in p  # pure per-row projection
    assert "EvalPython" not in p  # no Python stage


def test_pack_sequences_one_exchange(spark):
    from textindexing_spark.functions.sampling import (chunk_tokens,
                                                       pack_sequences)

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h")], "doc_id bigint, text string")
    import re

    p = _plan(pack_sequences(chunk_tokens(docs, 4), 8, n_buckets=2))
    # exactly one Exchange NODE (formatted output names each node twice:
    # once in the tree, once in the detail section): the bucket shuffle
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "FlatMapGroupsInPandas" in p


def test_reshard_one_exchange_per_direction(spark, tmp_path):
    """SegmentIndex.reshard (PLANS.md round-5 row): each direction's plan
    is ONE hashpartitioning exchange of the fused compressed-blob frame
    feeding ONE FlatMapGroupsInPandas — no posting-granularity shuffle,
    no extra Python stage, and the shrink side's child computation is a
    JVM-side pmod, never a Python job."""
    import re

    from textindexing_spark import IndexConfig
    from textindexing_spark.operators.bm25 import build_segments_from_docs

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} common") for i in range(40)],
        "doc_id bigint, text string")
    built = build_segments_from_docs(spark, docs,
                                     IndexConfig(block_size=16),
                                     n_shards=4)
    # guard the SAVED-index shape (the operational one): a cached build
    # lineage would show the builder's own exchanges inside its
    # InMemoryRelation detail and muddy the count
    from textindexing_spark.operators.bm25 import (FUSED_SCHEMA,
                                                   SegmentIndex,
                                                   _coalesce_shard_factory,
                                                   _split_shard_factory,
                                                   by_shard_task)
    from pyspark.sql import functions as F

    built.save(str(tmp_path / "seg"))
    base = SegmentIndex.load(spark, str(tmp_path / "seg"))
    # plans of the UN-materialized fused frames (reshard() persists and
    # materializes eagerly via _index_from_fused's stats collect, so
    # inspect the same dataflow it builds)

    grow = (by_shard_task(base._as_fused(), base.n_shards)
            .applyInPandas(_split_shard_factory(base.cfg, 8),
                           FUSED_SCHEMA))
    shrink = (by_shard_task(
                  base._as_fused().withColumn(
                      "shard", F.pmod(F.col("shard"), F.lit(2)).cast("int")),
                  2)
              .applyInPandas(_coalesce_shard_factory(base.cfg),
                             FUSED_SCHEMA))
    for p in (_plan(grow), _plan(shrink)):
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
        assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", p)) == 1, p
        # no Python stage besides the shard kernel
        assert "BatchEvalPython" not in p
        assert len(re.findall(r"\(\d+\) ArrowEvalPython", p)) == 0


def test_upsert_one_cogroup_no_python_udf(spark, tmp_path):
    """SegmentIndex.upsert over a loaded index: the shard merge is ONE
    FlatMapCoGroupsInPandas and no scalar Python UDF runs beside it (the
    saved doc tables already carry sum_dl)."""
    from textindexing_spark import IndexConfig
    from textindexing_spark.operators.bm25 import (SegmentIndex,
                                                   build_segments_from_docs)

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} common") for i in range(40)],
        "doc_id bigint, text string")
    build_segments_from_docs(spark, docs, IndexConfig(block_size=16),
                             n_shards=4).save(str(tmp_path / "seg"))
    base = SegmentIndex.load(spark, str(tmp_path / "seg"))
    merged = base.upsert(spark.createDataFrame(
        [(3, "fresh"), (99, "new doc")], "doc_id bigint, text string"))
    p = _plan(merged._fused)
    # the executed plan's node tree: upsert materialized the frame, so
    # the cached AdaptiveSparkPlan also prints its initial plan
    tree = p.split("\n\n")[0].split("== Initial Plan ==")[0]
    assert tree.count("FlatMapCoGroupsInPandas") == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
