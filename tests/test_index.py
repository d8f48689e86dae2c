"""End-to-end index build + query tests vs the pure-Python oracle,
covering the reference's own test scenarios (SURVEY.md section 5):
merge->query roundtrip, wildcard routing, delete-via-empty-merge, predicate
delete, snapshot isolation, and bulk==incremental equivalence."""

import pytest

from textindexing_spark import IndexConfig, build_index
from textindexing_spark.sources.pages import generate_pages_rows

from tests.oracle import OracleIndex

CORPUS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "pack my box with five dozen liquor jugs"),
    (2, "The Dog barks at the FOX and the fox runs"),
    (3, "quick thinking saves the day, quick quick"),
    (4, "Schrœdinger's cat is alive and dead"),
    (5, "Гиперо́ним — слово с широким значением"),
    (6, ""),  # empty doc: never indexed
    (7, "boxing day dogma foxtrot quickstep"),
    (8, "a dog a fox a cat a box 4.1.2 under_score"),
]


def _oracle():
    o = OracleIndex()
    for doc_id, text in CORPUS:
        o.merge(doc_id, text)
    return o


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    return build_index(spark, docs, IndexConfig()).cache()


def test_words_sorted(idx):
    got = [r.term for r in idx.words().collect()]
    assert got == _oracle().words()
    assert got == sorted(got)


def test_exact(idx):
    o = _oracle()
    for w in ["fox", "FOX", "dog", "quick", "nonexistent", "schrœdinger",
              "гиперо", "4", "under"]:
        got = set()
        for r in idx.exact(w).collect():
            got |= {p.doc_id for p in r.postings}
        assert got == o.exact(w), w


def test_no_empty_posting_lists(idx):
    # IIndex.cs:67-69 — words without documents never appear
    assert idx.postings.where("size(postings) = 0").count() == 0
    assert idx.postings.where("df <> size(postings)").count() == 0


def test_empty_doc_not_indexed(idx):
    assert idx.documents.where("doc_id = 6").count() == 0


def test_prefix_routing(idx):
    o = _oracle()
    for q in ["quick*", "box*", "*og", "fox", "do*", "*x"]:
        got = [r.doc_id for r in idx.search_bool(q).collect()]
        assert got == o.search_bool(q), q


def test_bool_and(idx):
    o = _oracle()
    for q in ["fox dog", "quick fox", "the quick", "fox dog cat",
              "do* box*", "fox nonexistent", "FOX DOG", ""]:
        got = [r.doc_id for r in idx.search_bool(q).collect()]
        assert got == o.search_bool(q), q


def test_bm25_topk(idx):
    o = _oracle()
    for q in ["fox", "quick dog", "the quick brown fox", "cat box"]:
        got = [(r.doc_id, r.score) for r in idx.search_bm25(q, 5).collect()]
        exp = o.bm25(q, 5)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-12), q


def test_explain_bm25_components_and_totals(idx):
    """explain_bm25: per-(doc, term) rows whose contributions (a) sum to
    exactly the ranked score, (b) cover exactly the search_bm25 top-k
    doc set with equal scores, and (c) match the oracle-computed BM25
    term weight (idf * tf-saturation) from raw (tf, df, dl) stats."""
    import math

    o = _oracle()
    n = len(o.doc_len)
    avgdl = sum(o.doc_len.values()) / n
    for q in ["fox", "quick dog", "cat box the"]:
        rows = idx.explain_bm25(q, 5).collect()
        ranked = [(r.doc_id, r.score) for r in idx.search_bm25(q, 5)
                  .collect()]
        # (b) same docs, same scores, ranking order preserved
        seen = []
        for r in rows:
            if not seen or seen[-1][0] != r.doc_id:
                seen.append((r.doc_id, r.score))
        assert seen == ranked, q
        # (a) contributions sum back to the score
        by_doc: dict[int, float] = {}
        for r in rows:
            by_doc[r.doc_id] = by_doc.get(r.doc_id, 0.0) + r.contribution
        for doc_id, score in ranked:
            assert by_doc[doc_id] == pytest.approx(score, rel=1e-12), q
        # (c) every component equals the from-stats recomputation
        for r in rows:
            assert r.df == len(o.postings[r.term]), q
            assert r.tf == o.postings[r.term][r.doc_id], q
            assert r.doc_len == o.doc_len[r.doc_id], q
            idf = math.log(1.0 + (n - r.df + 0.5) / (r.df + 0.5))
            assert r.idf == pytest.approx(idf, rel=1e-12), q
            w = idf * (r.tf * (o.k1 + 1.0)) / (
                r.tf + o.k1 * (1.0 - o.b + o.b * r.doc_len / avgdl))
            assert r.contribution == pytest.approx(w, rel=1e-12), q
    assert idx.explain_bm25("", 5).count() == 0
    assert idx.explain_bm25("zzznothere", 5).count() == 0


def test_merge_upsert_replace(spark, idx):
    # re-merge doc 0 with new text: old-only terms gone, new terms present
    batch = spark.createDataFrame([(0, "completely new words here")],
                                  "doc_id bigint, text string")
    idx2 = idx.merge(batch)
    o = _oracle()
    o.merge(0, "completely new words here")
    assert [r.doc_id for r in idx2.search_bool("completely").collect()] == [0]
    assert o.search_bool("jumps") == []
    assert idx2.search_bool("jumps").count() == 0  # 'jumps' was only in doc 0
    assert [r.term for r in idx2.words().collect()] == o.words()


def test_merge_empty_deletes(spark, idx):
    # merging an empty word set deletes the document (IndexTests.cs:56-61)
    batch = spark.createDataFrame([(1, "")], "doc_id bigint, text string")
    idx2 = idx.merge(batch)
    assert idx2.documents.where("doc_id = 1").count() == 0
    exploded = idx2.postings.selectExpr("explode(postings) as p")
    assert exploded.where("p.doc_id = 1").count() == 0
    assert idx2.postings.where("size(postings) = 0").count() == 0


def test_remove_matching(spark, idx):
    # predicate delete leaves no matching docs anywhere (IndexTests.cs:64-81)
    idx2 = idx.remove_matching("doc_id % 2 = 0")
    o = _oracle()
    o.remove_matching(lambda d: d % 2 == 0)
    assert [r.term for r in idx2.words().collect()] == o.words()
    exploded = idx2.postings.selectExpr("explode(postings) as p")
    assert exploded.where("p.doc_id % 2 = 0").count() == 0


def test_snapshot_isolation(spark, idx, tmp_path):
    # snapshot unaffected by later merges (IndexTests.cs:102-118)
    snap = idx.snapshot(str(tmp_path / "snap"))
    before = [r.term for r in snap.words().collect()]
    idx.merge(spark.createDataFrame([(99, "zyzzyva zebra")],
                                    "doc_id bigint, text string"))
    assert [r.term for r in snap.words().collect()] == before
    assert "zyzzyva" not in before


def test_bulk_equals_incremental(spark):
    # bulk-built index ≡ incrementally-merged index (≙ the reference's
    # cross-engine fixtures, IndexTests.cs:15-17)
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    bulk = build_index(spark, docs)
    inc = build_index(spark, docs.limit(0))  # empty start
    for s in range(0, len(CORPUS), 3):
        batch = spark.createDataFrame(CORPUS[s:s + 3],
                                      "doc_id bigint, text string")
        inc = inc.merge(batch)
    a = {(r.term, tuple((p.doc_id, p.tf) for p in r.postings))
         for r in bulk.postings.collect()}
    b = {(r.term, tuple((p.doc_id, p.tf) for p in r.postings))
         for r in inc.postings.collect()}
    assert a == b


def test_salted_build_equals_unsalted(spark):
    rows = [(i, t) for i, (_, _, _, t, _) in
            enumerate(generate_pages_rows(n_docs=200, seed=7))]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    plain = build_index(spark, docs, IndexConfig(salt_df_threshold=0))
    salted = build_index(spark, docs, IndexConfig(salt_df_threshold=5,
                                                  salt_target_bucket=5))
    a = {(r.term, r.df, r.total_tf,
          tuple((p.doc_id, p.tf) for p in r.postings))
         for r in plain.postings.collect()}
    b = {(r.term, r.df, r.total_tf,
          tuple((p.doc_id, p.tf) for p in r.postings))
         for r in salted.postings.collect()}
    assert a == b


def test_matching_accepts_python_callable(idx):
    """Q3 parity with Func<string,bool> (IIndex.cs:52-62): a Python
    callable filters the dictionary identically to the equivalent SQL
    expression, and bad predicate types are rejected."""
    import pytest as _pt

    want = {r.term for r in
            idx.matching("term rlike '^[a-z]{4}$'").collect()}
    got = {r.term for r in
           idx.matching(lambda w: len(w) == 4 and w.islower()
                        and w.isalpha()).collect()}
    # islower/isalpha over the alnum dictionary == the regex class here
    assert got == want and want
    with _pt.raises(TypeError):
        idx.matching(42)


def test_batched_bool_matches_per_query(idx):
    """search_bool_many: one job for the query set, per-query identical
    to search_bool (incl. wildcard routing and duplicate tokens)."""
    queries = ["word1 word7", "sc* *ow", "word2 word2 word3",
               "zzabsent", "", "word1"]
    batched = {}
    for r in idx.search_bool_many(queries).collect():
        batched.setdefault(r.query_id, []).append(r.doc_id)
    for q in queries:
        single = [r.doc_id for r in idx.search_bool(q).collect()]
        assert batched.get(q, []) == single, repr(q)
    # int ids come back as bigint query_ids, not their string forms
    texts = {0: "fox dog", 7: "qui* *ox"}
    typed = idx.search_bool_many(texts)
    assert dict(typed.dtypes)["query_id"] == "bigint"
    by_id = {}
    for r in typed.collect():
        by_id.setdefault(r.query_id, []).append(r.doc_id)
    assert set(by_id) <= set(texts) and by_id
    for qid, q in texts.items():
        single = [r.doc_id for r in idx.search_bool(q).collect()]
        assert by_id.get(qid, []) == single, qid


def test_prefetched_serving_launches_no_stats_job(spark, idx):
    """After prepare_for_queries prefetches the complete dictionary, the
    rarest-first pre-pass must resolve every token — seen or absent,
    exact or wildcard — WITHOUT a Spark job (round 3's bool_queries paid
    one df job per cold query). Enforced by making any collect() during
    query construction fail."""
    from unittest import mock

    from pyspark.sql import DataFrame
    from textindexing_spark.operators.query import Index

    ix = Index(spark, idx.postings, idx.documents, idx.cfg)
    ix.prepare_for_queries()
    assert ix._dict_df, "tiny test dictionary must fully prefetch"

    def _boom(self):
        raise AssertionError("stats pre-pass launched a Spark job")

    with mock.patch.object(DataFrame, "collect", _boom):
        plans = [ix.search_bool("fox dog"),        # seen terms
                 ix.search_bool("zzabsent fox"),   # absent short-circuit
                 ix.search_bool("qui* *ox"),       # wildcards
                 ix.search_bool_many(["fox dog", "qui* *ox"])]
    # the constructed plans are right, not just job-free
    assert [r.doc_id for r in plans[1].collect()] == []
    batched = {r.query_id for r in plans[3].collect()}
    assert batched  # wildcard + exact batch still matches docs


def test_invariant_culture_word_comparison(spark):
    """≙ the reference's InvariantCultureIgnoreCase index test family
    (IndexTests.cs:84-100): with word_comparison=invariant, a query for
    either spelling finds documents containing the other."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "Schrœdinger equation"), (2, "Schroedinger was here")],
        "doc_id bigint, text string")
    inv = build_index(spark, docs, IndexConfig(case_insensitive="invariant"))
    hits = sorted(r["doc_id"] for r in
                  inv.exact("Schrœdinger")
                  .select(F.explode("postings").alias("p"))
                  .select(F.col("p.doc_id").alias("doc_id")).collect())
    assert hits == [1, 2]
    assert sorted(r["doc_id"] for r in
                  inv.search_bool("schroedinger").collect()) == [1, 2]
    # default OrdinalIgnoreCase keeps the spellings distinct
    ordinal = build_index(spark, docs, IndexConfig())
    assert sorted(r["doc_id"] for r in
                  ordinal.search_bool("schroedinger").collect()) == [2]


def test_search_expr_matches_set_oracle(idx):
    """Full boolean language (AND/OR/NOT + parens + wildcards) vs a
    pure-Python set evaluation over the same corpus."""
    o = _oracle()
    universe = {d for d, t in CORPUS if t.strip()}  # docs with >=1 token

    def docs(tok):
        if tok.endswith("*"):
            return {d for w in o.words() if w.startswith(tok[:-1])
                    for d in o.exact(w)}
        if tok.startswith("*"):
            return {d for w in o.words() if w.endswith(tok[1:])
                    for d in o.exact(w)}
        return o.exact(tok)

    cases = {
        "fox AND dog": docs("fox") & docs("dog"),
        "fox dog": docs("fox") & docs("dog"),           # implicit AND
        "fox OR box": docs("fox") | docs("box"),
        "fox AND NOT dog": docs("fox") - docs("dog"),
        "NOT fox": universe - docs("fox"),              # pure negation
        "(fox OR box) AND NOT (dog OR cat)":
            (docs("fox") | docs("box")) - (docs("dog") | docs("cat")),
        "quick* AND NOT box*": docs("quick*") - docs("box*"),
        "dog AND (quick OR *ing) AND NOT liquor":
            (docs("dog") & (docs("quick") | docs("*ing")))
            - docs("liquor"),
        "fox AND nonexistent": set(),                   # absent conjunct
        "fox OR nonexistent": docs("fox"),
        "and": docs("and"),          # lowercase 'and' is a TERM
        "NOT (fox OR dog OR box OR quick*)":
            universe - (docs("fox") | docs("dog") | docs("box")
                        | docs("quick*")),
    }
    for q, want in cases.items():
        got = [r["doc_id"] for r in idx.search_expr(q).collect()]
        assert got == sorted(want), q
        assert got == sorted(set(got)), f"{q}: duplicate doc_ids"


def test_search_expr_flat_and_delegates_and_edge_cases(idx):
    # flat positive AND must agree with search_bool exactly
    for q in ["fox dog", "quick* fox", "the"]:
        a = [r["doc_id"] for r in idx.search_expr(q).collect()]
        b = [r["doc_id"] for r in idx.search_bool(q).collect()]
        assert a == b, q
    assert idx.search_expr("").count() == 0
    assert idx.search_expr(None).count() == 0
    import pytest as _pt
    from textindexing_spark.operators.query import parse_bool_expr
    for bad in ["fox AND", "NOT", "(fox", "fox)", "fox OR", "AND fox"]:
        with _pt.raises(ValueError):
            parse_bool_expr(bad)


def test_search_expr_quoted_phrases(spark, idx):
    """Double-quoted spans in the boolean language resolve through an
    attached positional tier: '"quick brown" AND NOT box' etc. A
    one-word phrase is an exact term (no positional tier needed)."""
    import pytest as _pt

    from textindexing_spark.operators.phrase import PositionalSegmentIndex
    from textindexing_spark.operators.query import parse_bool_expr

    assert parse_bool_expr('"quick brown" AND dog') == \
        ("and", [("phrase", "quick brown"), ("term", "dog")])
    assert parse_bool_expr('"solo"') == ("term", "solo")
    for bad in ['"unterminated phrase', '""']:
        with _pt.raises(ValueError):
            parse_bool_expr(bad)

    # phrase nodes refuse to evaluate without a positional tier
    with _pt.raises(ValueError, match="positional"):
        idx.search_expr('"quick brown" AND dog').collect()

    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    pseg = PositionalSegmentIndex.build(spark, docs, n_shards=4).cache()
    idx.attach_positional(pseg)
    try:
        from textindexing_spark.functions.tokenize import tokenize_text

        o = _oracle()

        def phrase_docs(*toks):
            want = list(toks)
            out = set()
            for d, t in CORPUS:
                seq = tokenize_text(t, "alnum", True)
                if any(want == seq[i:i + len(want)]
                       for i in range(len(seq))):
                    out.add(d)
            return out

        cases = {
            '"quick brown"': phrase_docs("quick", "brown"),
            '"quick brown" AND dog':
                phrase_docs("quick", "brown") & o.exact("dog"),
            '"the fox" OR "a dog"':
                phrase_docs("the", "fox") | phrase_docs("a", "dog"),
            'fox AND NOT "the fox"':
                o.exact("fox") - phrase_docs("the", "fox"),
            '"no such phrase here"': set(),
        }
        for q, want in cases.items():
            got = sorted(r["doc_id"]
                         for r in idx.search_expr(q).collect())
            assert got == sorted(want), q
        # batched serving resolves phrases too
        qs = list(cases)
        got_many: dict[int, set] = {}
        for r in idx.search_expr_many(qs).collect():
            got_many.setdefault(r["query_id"], set()).add(r["doc_id"])
        for qid, q in enumerate(qs):
            assert got_many.get(qid, set()) == cases[q], q
    finally:
        idx._phrase_index = None
        pseg.unpersist()


def test_bm25_filter_expr(idx):
    """Filtered ranked retrieval: search_bm25(..., filter_expr=) returns
    exactly the unfiltered ranking restricted to the expression's doc
    set (scores unchanged — only eligibility)."""
    full = {r["doc_id"]: r["score"]
            for r in idx.bm25_scores("fox dog quick").collect()}
    allowed = {r["doc_id"]
               for r in idx.search_expr("(fox OR quick) AND NOT box").collect()}
    got = idx.search_bm25("fox dog quick", 5,
                          filter_expr="(fox OR quick) AND NOT box").collect()
    want = sorted(((d, s) for d, s in full.items() if d in allowed),
                  key=lambda x: (-x[1], x[0]))[:5]
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(d, pytest.approx(s)) for d, s in want]
    # an always-false filter empties the result; no filter == unfiltered
    assert idx.search_bm25("fox", 5, filter_expr="nonexistent").count() == 0
    a = [r["doc_id"] for r in idx.search_bm25("fox dog", 5).collect()]
    b = [r["doc_id"] for r in idx.search_bm25("fox dog", 5,
                                              filter_expr=None).collect()]
    assert a == b


def test_search_expr_many_matches_per_query(idx):
    """Batched expression serving == per-query search_expr, covering the
    shared-scan flat-AND route, complex branches, duplicates of the
    same flat query, and empty/absent queries."""
    queries = ["fox dog", "(fox OR box) AND NOT dog", "NOT fox",
               "fox dog", "quick* AND NOT box*", "", "nonexistent"]
    got: dict[int, list[int]] = {}
    for r in idx.search_expr_many(queries).collect():
        got.setdefault(r["query_id"], []).append(r["doc_id"])
    for qid, q in enumerate(queries):
        want = [r["doc_id"] for r in idx.search_expr(q).collect()]
        assert sorted(got.get(qid, [])) == want, (qid, q)


def test_bm25_empty_filter_expr_means_no_filter(idx):
    a = [r["doc_id"] for r in idx.search_bm25("fox dog", 5).collect()]
    b = [r["doc_id"] for r in
         idx.search_bm25("fox dog", 5, filter_expr="").collect()]
    c = [r["doc_id"] for r in
         idx.search_bm25("fox dog", 5, filter_expr="   ").collect()]
    assert a == b == c


def test_bm25_batched_matches_per_query(idx):
    """Catalyst-tier batched BM25 (search_bm25_many) == per-query
    search_bm25 for every query in one job — the twin of the WAND
    tier's batched==per-query gate."""
    queries = ["fox", "quick dog", "the quick brown fox", "cat box",
               "nonexistent", ""]
    out = idx.search_bm25_many(queries, k=5).collect()
    by_q: dict[str, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    for q in queries:
        want = [(r["doc_id"], r["score"])
                for r in idx.search_bm25(q, 5).collect()]
        got = by_q.get(q, [])
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, es) in zip(got, want):
            assert gs == pytest.approx(es, rel=1e-9), q
    # ordering contract: query_id asc, score desc, doc_id asc
    assert out == sorted(
        out, key=lambda r: (r["query_id"], -r["score"], r["doc_id"]))


def test_bm25_batched_integer_query_ids(idx):
    # {int: text} dicts are the natural batched-id shape (same as
    # search_expr_many); query_id comes back as bigint
    out = idx.search_bm25_many({0: "fox", 7: "quick dog"}, k=3)
    assert dict(out.dtypes)["query_id"] == "bigint"
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 7}
    want = [r["doc_id"] for r in idx.search_bm25("fox", 3).collect()]
    assert [r["doc_id"] for r in rows if r["query_id"] == 0] == want
    with pytest.raises(TypeError, match="all int or all str"):
        idx.search_bm25_many({0: "fox", "b": "dog"}, k=3)
