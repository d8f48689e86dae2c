"""Batched posting encode (codec.encode_lists): every list's blobs and
block metadata byte-identical to encoding that list alone with
encode_postings, and the batch decodes back through the one-pass
_unpack_lists. Spark-free."""

import warnings

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from textindexing_spark.operators.bm25 import _unpack_lists
from textindexing_spark.operators.codec import encode_lists, encode_postings

I64 = st.integers(min_value=-2**63, max_value=2**63 - 1)


def _check(lists, block_size):
    """Encode ``lists`` ([(doc ids, tfs, dls)]) in one batch; compare
    with per-list encodes and decode the batch back."""
    cut = np.zeros(len(lists) + 1, dtype=np.int64)
    np.cumsum([d.size for d, _, _ in lists], out=cut[1:])
    doc = np.concatenate([d for d, _, _ in lists])
    tf = np.concatenate([t for _, t, _ in lists])
    dl = np.concatenate([x for _, _, x in lists])
    old = np.seterr(over="raise")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            gaps, tfs, blocks = encode_lists(doc, tf, cut, block_size, dl)
            single = [encode_postings(d, t, block_size, x)
                      for d, t, x in lists]
    finally:
        np.seterr(**old)
    assert len(gaps) == len(tfs) == len(blocks) == len(lists)
    for i, (g, t, b) in enumerate(single):
        assert gaps[i] == g and tfs[i] == t and blocks[i] == b, i
    rows = pd.DataFrame({"n_docs": np.diff(cut), "gaps": gaps,
                         "tfs": tfs})
    doc2, tf2, cut2 = _unpack_lists(rows)
    assert np.array_equal(doc2, doc) and np.array_equal(tf2, tf)
    assert np.array_equal(cut2, cut)


def _list(ids, rng):
    d = np.array(sorted(set(ids)), dtype=np.int64)
    return (d, rng.integers(1, 400, d.size).astype(np.int64),
            rng.integers(1, 10**6, d.size).astype(np.int64))


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(I64, min_size=1, max_size=40), min_size=1,
                max_size=12),
       st.sampled_from([1, 2, 4, 16, 128]), st.integers(0, 2**32 - 1))
def test_batched_encode_matches_per_list(id_lists, block_size, seed):
    rng = np.random.default_rng(seed)
    _check([_list(ids, rng) for ids in id_lists], block_size)


def test_batched_encode_edge_lists():
    """1-posting lists, exactly block_size and block_size + 1 postings,
    multi-byte gaps and tfs, and ids at the int64 extremes (the first
    gap doc0 + 1 wraps mod 2^64)."""
    rng = np.random.default_rng(7)
    bs = 4
    lists = [
        _list([5], rng),
        _list(range(0, 4 * 1000, 1000), rng),          # == block_size
        _list(range(0, 5 * 300, 300), rng),            # block_size + 1
        _list([0, 2**20, 2**40, 2**62], rng),          # multi-byte gaps
        _list([2**63 - 1], rng),                       # doc0 + 1 wraps
        _list([-2**63, -1, 0, 1, 2**63 - 1], rng),
        _list([-2**63, -2**63 + 1], rng),
        _list(range(9), rng),
    ]
    lists[3] = (lists[3][0], np.array([1, 200, 70000, 2**35]),
                lists[3][2])
    _check(lists, bs)
    _check(lists[:1], bs)
    _check(lists[4:5], 128)
