"""The benchmark's own tests (pure Python, no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import corpus
from perfbench.harness import Run
from perfbench.oracle import Reference, check_topk, tokenize
from perfbench.spans import self_times
from perfbench.stats import median, spread, tail_percentile


# -- percentile and sample-count rule ----------------------------------------

def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(99)), 90) is None    # 9 beyond
    assert tail_percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert tail_percentile(list(range(19)), 50) is None
    assert tail_percentile(list(range(20)), 50) is not None
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 50, 100)


def test_median_and_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) is None
    xs = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 10.5, 9.5, 10.0]
    assert spread(xs) == pytest.approx((10.625 - 9.375) / 10.0)


# -- span self time ------------------------------------------------------------

def _span(start, end, parent=None):
    return {"name": "s", "start": start, "end": end, "parent": parent,
            "op": 0}


def test_self_time_subtracts_children_once():
    spans = [_span(0.0, 10.0),            # root
             _span(1.0, 3.0, 0),          # child
             _span(2.0, 5.0, 0),          # overlaps the first child
             _span(2.5, 2.7, 2),          # grandchild: not the root's child
             _span(9.0, 12.0, 0)]         # runs past the parent's end
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0 - 0.2)
    assert own[3] == pytest.approx(0.2)


# -- seed determinism -----------------------------------------------------------

def _queries(seed):
    ref = Reference()
    for i, row in enumerate(corpus.ingest_base(seed)[:200]):
        ref.apply(i, row[3])
    gen = corpus.QueryGen(ref, seed)
    return [gen.ranked() for _ in range(20)], gen.batch()


def test_same_seed_same_inputs():
    assert corpus.serve_corpus(5) == corpus.serve_corpus(5)
    base = corpus.ingest_base(5)
    assert corpus.ingest_stream(5, base) == corpus.ingest_stream(5, base)
    assert _queries(5) == _queries(5)
    assert corpus.serve_corpus(5) != corpus.serve_corpus(6)
    assert _queries(5) != _queries(6)


def test_stream_batches_mix_new_recrawl_delete_and_duplicates():
    base = corpus.ingest_base(3)
    stream = corpus.ingest_stream(3, base)
    known = {r[0] for r in base}
    for rows in stream:
        final = corpus.last_wins(rows)
        new = [u for u in final if u not in known]
        deletes = [u for u, t in final.items() if t == "" and u in known]
        assert len(new) == corpus.BATCH_NEW
        assert len(deletes) == corpus.BATCH_DELETE
        assert len(rows) - len(final) == corpus.BATCH_DUP
        known.update(final)


# -- the oracle, and a planted wrong answer --------------------------------------

def test_tokenize_matches_engine_contract():
    assert tokenize("Hello, World-42 under_score") == [
        "hello", "world", "42", "under", "score"]
    assert tokenize("Гиперо́ним") == ["гиперо", "ним"]   # U+0301 splits
    assert tokenize("") == []


def _tiny() -> Reference:
    ref = Reference()
    ref.apply(1, "apple banana apple")
    ref.apply(2, "banana cherry")
    ref.apply(3, "cherry cherry date")
    ref.apply(4, "gone soon")
    ref.apply(4, "")                      # empty text deletes
    return ref


def test_reference_bm25_on_tiny_corpus():
    ref = _tiny()
    assert sorted(ref.docs) == [1, 2, 3]
    n, avgdl = 3, (3 + 2 + 3) / 3
    idf = math.log(1 + (n - 1 + 0.5) / (1 + 0.5))
    w = idf * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / avgdl))
    assert ref.ranking("APPLE") == [(1, pytest.approx(w))]
    assert [d for d, _ in ref.ranking("banana cherry")] == [2, 3, 1]
    assert ref.ranking("gone") == []


def test_check_topk_catches_planted_wrong_answers():
    ranking = _tiny().ranking("banana cherry")
    assert check_topk(list(ranking), ranking) is None
    swapped = [ranking[1], ranking[0], ranking[2]]
    assert check_topk(swapped, ranking) is not None
    nudged = [(d, s * (1 + 1e-6)) for d, s in ranking]
    assert check_topk(nudged, ranking) is not None
    assert check_topk(ranking[:2], ranking) is not None
    assert check_topk([(99, s) for _, s in ranking], ranking) is not None


def test_check_topk_allows_near_ties_to_trade_places():
    ranking = [(5, 1.0), (7, 1.0 + 1e-12), (9, 0.5)]
    ranking.sort(key=lambda kv: (-kv[1], kv[0]))
    assert check_topk([(5, 1.0), (7, 1.0), (9, 0.5)], ranking) is None


def test_run_counts_wrong_and_raising_ops_as_failed():
    run = Run(spark=None, traced=False)
    ranking = _tiny().ranking("banana")
    run.op("wand", lambda: list(ranking), lambda g: check_topk(g, ranking))
    run.op("wand", lambda: list(reversed(ranking)),
           lambda g: check_topk(g, ranking))
    run.op("wand", lambda: 1 / 0)
    run.op("wand", lambda: list(ranking), count=False)     # warm-up
    assert (run.attempted, run.failed) == (3, 2)
    assert len(run.samples["wand"]) == 1
