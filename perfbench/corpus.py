"""Seeded inputs: corpora, the ingest micro-batch stream and query texts.

Everything here is a pure function of the seed (no Spark, no clock), so
the same seed gives the same inputs on every run and every commit. The
op-type order of each workload is a fixed pattern that does not depend
on the seed at all; the seed only picks the documents and query texts.
"""

from __future__ import annotations

import datetime as dt
import random

from textindexing_spark.sources.pages import generate_pages_rows, wrap_html

VOCAB = 50_000
# Sized so that a run of either workload takes about a minute: the first
# process_batch of a JVM costs 15-20 s at any size.
SERVE_DOCS = 400         # plus the 10% recrawl tail generate_pages_rows adds
INGEST_BASE = 300
BATCH_NEW, BATCH_RECRAWL, BATCH_DELETE, BATCH_DUP = 20, 12, 4, 2
MAX_BATCHES = 12
BATCH_QUERIES = 16

_STREAM_EPOCH = dt.datetime(2024, 3, 1)

# Serve: one op of each type per cycle, interleaved so drift inside a run
# hits every type alike, and every type gets the same number of samples.
SERVE_PATTERN = ("wand", "batch", "fresh")
SERVE_CYCLE_S = 2.6      # nominal duration of one pattern cycle (4 vCPUs)
# Ingest: one micro-batch commit, then reads of the version just committed,
# cold: fresh = store.load() + WAND, and batches on a newly loaded index.
INGEST_PATTERN = ("upsert",) + ("fresh", "batch") * 6
INGEST_CYCLE_S = 25.0
# Ranked-query shapes (df band per term), used in this order round and
# round so every seed gets the same mix of query costs; one query in
# twenty carries a term absent from the index.
SHAPES = (("head",), ("mid", "tail"), ("head", "mid", "tail"), ("mid",),
          ("head", "tail"), ("mid", "mid", "tail"), ("tail",),
          ("head", "mid"), ("head", "head", "mid"), ("mid", "mid"))
ABSENT_EVERY = 20


def serve_corpus(seed: int) -> list[tuple]:
    """The crawl in the pages shape: SERVE_DOCS urls, then a recrawl tail
    of some of them with later warc_ts (last-wins must pick those)."""
    return generate_pages_rows(n_docs=SERVE_DOCS, seed=seed,
                               vocab_size=VOCAB, recrawl_fraction=0.1)


def ingest_base(seed: int) -> list[tuple]:
    return generate_pages_rows(n_docs=INGEST_BASE, seed=seed,
                               vocab_size=VOCAB, recrawl_fraction=0.0)


def _page(url: str, ts: dt.datetime, text: str) -> tuple:
    return (url, ts, wrap_html(text), text, "en")


def ingest_stream(seed: int, base: list[tuple]) -> list[list[tuple]]:
    """MAX_BATCHES micro-batches. Each mixes new urls, recrawls of live
    urls with changed text (a third of them carry a term no earlier
    batch had), empty-text deletes of live urls, and urls sent twice
    where the later warc_ts must win."""
    rng = random.Random(seed * 7919 + 17)
    per_batch = BATCH_NEW + BATCH_RECRAWL + 2 * BATCH_DUP
    pool = [r[3] for r in generate_pages_rows(
        n_docs=MAX_BATCHES * per_batch, seed=seed + 100_003,
        vocab_size=VOCAB, recrawl_fraction=0.0, empty_fraction=0.0)]
    live = sorted(r[0] for r in base if r[3])
    next_doc = len(base)
    batches = []
    for b in range(MAX_BATCHES):
        ts = _STREAM_EPOCH + dt.timedelta(hours=b)
        texts = iter(pool[b * per_batch:(b + 1) * per_batch])
        rows, new_urls = [], []
        for j in range(BATCH_NEW):
            url = f"https://example.org/doc/{next_doc:06d}"
            next_doc += 1
            new_urls.append(url)
            rows.append(_page(url, ts + dt.timedelta(seconds=j), next(texts)))
        touched = rng.sample(live, BATCH_RECRAWL + BATCH_DELETE)
        for j, url in enumerate(touched[:BATCH_RECRAWL]):
            text = next(texts)
            if j % 3 == 0:
                text += f" nova{b}x{j}"
            rows.append(_page(url, ts + dt.timedelta(seconds=100 + j), text))
        for j, url in enumerate(touched[BATCH_RECRAWL:]):
            rows.append(_page(url, ts + dt.timedelta(seconds=200 + j), ""))
        for j, url in enumerate(new_urls[:BATCH_DUP]):
            rows.append(_page(url, ts - dt.timedelta(seconds=1 + j),
                              next(texts)))
        rng.shuffle(rows)
        batches.append(rows)
        deleted = set(touched[BATCH_RECRAWL:])
        live = sorted((set(live) - deleted) | set(new_urls))
    return batches


def last_wins(rows: list[tuple]) -> dict[str, str]:
    """url -> text of the newest warc_ts per url (the batch semantics)."""
    best: dict[str, tuple] = {}
    for r in rows:
        if r[0] not in best or r[1] > best[r[0]][1]:
            best[r[0]] = r
    return {u: r[3] for u, r in best.items()}


class QueryGen:
    """Query texts drawn from the df bands of a reference dictionary:
    head (top 1% by df), tail (df <= 2) and mid (the rest). The shape of
    the n-th query is fixed (SHAPES); the seed picks the terms."""

    def __init__(self, ref, seed: int):
        self.ref = ref
        self.rng = random.Random(seed)
        self.n_ranked = 0
        ranked = sorted(ref.postings, key=lambda t: (-ref.df(t), t))
        n_head = max(1, len(ranked) // 100)
        self.bands = {
            "head": ranked[:n_head],
            "tail": [t for t in ranked[n_head:] if ref.df(t) <= 2],
            "mid": [t for t in ranked[n_head:] if ref.df(t) > 2],
        }

    def ranked(self, extra_term: str | None = None) -> str:
        i = self.n_ranked
        self.n_ranked += 1
        terms = [self.rng.choice(self.bands[band] or self.bands["mid"])
                 for band in SHAPES[i % len(SHAPES)]]
        if i % ABSENT_EVERY == ABSENT_EVERY - 1:
            terms[-1] = f"absent{self.rng.randrange(10**6)}q"
        if extra_term:
            terms.append(extra_term)
        return " ".join(terms)

    def batch(self) -> list[str]:
        out: list[str] = []
        while len(out) < BATCH_QUERIES:
            q = self.ranked()
            if q not in out:
                out.append(q)
        return out
