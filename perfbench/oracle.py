"""Pure-Python reference answers, independent of the engine's code.

Semantics (the engine's documented contract, as in the repository's test
oracle): alnum tokens are maximal runs of characters that are letters
(``str.isalpha``) or decimal digits (``str.isdecimal``), folded with
``str.lower``; a document's terms are a set with tf kept beside it. Upsert
replaces a document, and a document with no tokens is deleted. BM25 uses
k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)); ranking is
score descending, doc_id ascending.
"""

from __future__ import annotations

import math
from collections import Counter

K1, B = 1.2, 0.75
REL_TOL = 1e-9


def tokenize(text: str | None) -> list[str]:
    out, cur = [], []
    for ch in text or "":
        if ch.isalpha() or ch.isdecimal():
            cur.append(ch)
        elif cur:
            out.append("".join(cur).lower())
            cur = []
    if cur:
        out.append("".join(cur).lower())
    return out


class Reference:
    """Live document state keyed by doc_id, with BM25 answers over it."""

    def __init__(self):
        self.docs: dict[int, Counter] = {}
        self._postings: dict[str, dict[int, int]] | None = None
        self._doc_len: dict[int, int] = {}

    def apply(self, doc_id: int, text: str | None) -> None:
        tf = Counter(tokenize(text))
        if tf:
            self.docs[doc_id] = tf
        else:
            self.docs.pop(doc_id, None)
        self._postings = None

    @property
    def postings(self) -> dict[str, dict[int, int]]:
        if self._postings is None:
            post: dict[str, dict[int, int]] = {}
            for d, tf in self.docs.items():
                for t, n in tf.items():
                    post.setdefault(t, {})[d] = n
            self._postings = post
            self._doc_len = {d: sum(tf.values())
                             for d, tf in self.docs.items()}
        return self._postings

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def ranking(self, query: str) -> list[tuple[int, float]]:
        """Every matching doc, ranked (score desc, doc_id asc)."""
        terms = sorted(set(tokenize(query)))
        n = len(self.docs)
        if not terms or not n:
            return []
        postings = self.postings
        avgdl = sum(self._doc_len.values()) / n
        scores: dict[int, float] = {}
        for t in terms:
            post = postings.get(t)
            if not post:
                continue
            idf = math.log(1.0 + (n - len(post) + 0.5) / (len(post) + 0.5))
            for d, tf in post.items():
                dl = self._doc_len[d]
                w = idf * tf * (K1 + 1.0) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl))
                scores[d] = scores.get(d, 0.0) + w
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def check_topk(got, ranking, k: int = 10) -> str | None:
    """Compare an engine top-k ``[(doc_id, score), ...]`` with the full
    reference ranking. Rank-identical and scores within REL_TOL, except
    that docs whose reference scores tie within REL_TOL may trade places
    (summation order differs in the last bits). Returns None when the
    answer is right, else a one-line reason."""
    want = ranking[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id"
    ref = dict(ranking)
    for i, ((d, s), (wd, ws)) in enumerate(zip(got, want)):
        if not _close(s, ws):
            return f"rank {i}: score {s!r}, expected {ws!r}"
        if d != wd and not (d in ref and _close(ref[d], ws)):
            return f"rank {i}: doc {d}, expected {wd}"
    return None
