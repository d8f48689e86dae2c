"""Property tests for the segment upsert merge kernel
(``bm25._merge_shard_factory``), hypothesis-driven like
tests/test_phrase_properties.py. Pure numpy/pandas, no Spark session:
both cogroup sides are built by the docs-front encoder the real upsert
runs, for one shard."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from textindexing_spark.config import IndexConfig
from textindexing_spark.operators.bm25 import (_FUSED_COLS, _FusedRows,
                                               _fused_encoder,
                                               _merge_shard_factory,
                                               _unpack)
from textindexing_spark.operators.codec import decode_postings

# tiny blocks so lists span several blocks
CFG = IndexConfig(block_size=3)
_TERMS = ["a", "b", "c", "dd", "eee", "ff"]
_texts = st.lists(st.sampled_from(_TERMS), min_size=0,
                  max_size=8).map(" ".join)


def _fused(docs: dict, delta: bool) -> pd.DataFrame:
    """One shard's fused rows as the cogroup hands them to the kernel
    (with the placement key column the task grouping adds)."""
    pdf = pd.DataFrame({"doc_id": pd.Series(list(docs), dtype="int64"),
                        "text": pd.Series(list(docs.values()),
                                          dtype="object")})
    enc = _fused_encoder(CFG, 1, "doc_id", "text",
                         include_empty_docs=delta)
    frames = list(enc(iter([pdf])))
    out = frames[0] if frames else pd.DataFrame(columns=_FUSED_COLS)
    return out.assign(_task=0)


def _decode(r):
    return decode_postings(bytes(r["gaps"]), bytes(r["tfs"]),
                           list(r["blocks"]))


def _table(frame) -> dict:
    """Term rows -> {(doc, term): tf}."""
    got = {}
    for r in frame[frame["term"].notna()].to_dict("records"):
        doc, tf = _decode(r)
        assert np.all(np.diff(doc) > 0)
        got.update({(int(d), r["term"]): int(t) for d, t in zip(doc, tf)})
    return got


def _want(base: dict, delta: dict) -> dict:
    live = {**base, **delta}
    want = {}
    for d, text in live.items():
        for t in text.split():
            want[(d, t)] = want.get((d, t), 0) + 1
    return want


def _row_key(r):
    return (r["term"], int(r["n_docs"]), bytes(r["gaps"]), bytes(r["tfs"]),
            tuple(tuple(sorted(dict(b).items())) for b in r["blocks"]))


def _check(base: dict, delta: dict):
    left = _fused(base, False)
    right = _fused(delta, True)
    merged = _merge_shard_factory(CFG)(left, right)
    assert list(merged.columns) == _FUSED_COLS
    terms = merged[merged["term"].notna()]
    # no (shard, term) appears twice
    assert not terms.duplicated(subset=["shard", "term"]).any()
    # merged rows decode to the delta-wins table
    want = _want(base, delta)
    assert _table(merged) == want
    summary = merged[merged["term"].isna()]
    assert len(summary) == 1
    ids = _unpack(summary["doc_ids"].iloc[0])
    lens = _unpack(summary["doc_lens"].iloc[0])
    live = {d: len(t.split()) for d, t in {**base, **delta}.items()
            if t.split()}
    assert dict(zip(ids.tolist(), lens.tolist())) == live
    assert int(summary["sum_dl"].iloc[0]) == sum(live.values())
    # a resident list with no delta doc and no delta row passes through
    # byte-identical
    delta_terms = set(right["term"].dropna())
    out = {r["term"]: _row_key(r) for r in terms.to_dict("records")}
    for r in left[left["term"].notna()].to_dict("records"):
        doc, _ = _decode(r)
        if r["term"] not in delta_terms and not set(delta) & set(doc):
            assert out[r["term"]] == _row_key(r), r["term"]
    return merged


@st.composite
def _batches(draw):
    """(base docs, delta docs): delta ids mixed with, all above or all
    below the resident ids; empty delta texts are deletes."""
    base = draw(st.dictionaries(st.integers(1000, 2000), _texts,
                                max_size=15))
    where = draw(st.sampled_from(["mixed", "above", "below"]))
    lo, hi = {"mixed": (900, 2100), "above": (2001, 3000),
              "below": (0, 999)}[where]
    delta = draw(st.dictionaries(st.integers(lo, hi), _texts, min_size=1,
                                 max_size=8))
    if where == "mixed" and base:
        # recrawls of resident docs
        resident = draw(st.lists(st.sampled_from(sorted(base)),
                                 max_size=4, unique=True))
        delta.update({d: draw(_texts) for d in resident})
    return base, delta


@settings(max_examples=80, deadline=None)
@given(_batches())
def test_merge_equals_delta_wins_property(batch):
    _check(*batch)


def test_merge_left_summary_only():
    """A shard whose docs were all deleted keeps only its (empty)
    summary row; a later batch refills it."""
    out = _FusedRows(CFG.block_size)
    out.summary(0, np.empty(0, np.int64), np.empty(0, np.int64))
    left = out.frame().assign(_task=0)
    right = _fused({5: "a b a", 7: "c"}, True)
    merged = _merge_shard_factory(CFG)(left, right)
    assert _table(merged) == {(5, "a"): 2, (5, "b"): 1, (7, "c"): 1}


@pytest.mark.parametrize("ids", [[1, 2], [1, 2, 99]])
def test_merge_delete_only_delta(ids):
    """A tombstone-only delta (every text empty, one id possibly not
    resident) removes the docs and every list they emptied."""
    base = {1: "a b", 2: "b", 3: "c"}
    merged = _check(base, {d: "" for d in ids})
    assert set(merged["term"].dropna()) == {"c"}


def test_merge_untouched_shard_passes_through():
    left = _fused({1: "a b", 2: "b"}, False)
    merged = _merge_shard_factory(CFG)(left, left.iloc[:0])
    assert merged.equals(left[_FUSED_COLS])
