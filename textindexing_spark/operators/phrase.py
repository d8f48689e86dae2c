"""Positional index + exact phrase search — the fulltext extension the
boolean/BM25 surface cannot express.

The reference's query language is boolean AND/OR over single terms
(examples/Primitive.Text.Indexing.UI/IndexerViewModel.cs:73-108); a
phrase query ("exact token sequence") is the standard fulltext
extension over the same inverted-index machinery, built here the
classic way: postings that carry each term's in-document token
positions.

Layout::

    positional(term STRING, doc_id BIGINT, positions ARRAY<INT>)

one row per (term, doc) with ascending 0-based token positions,
hash-partitioned by term like the main postings table.

Scale shape (the part that must survive 100 TB):

- The table is built in ONE Arrow-batched mapInPandas pass — each doc
  is whole inside its batch, so (term, doc, positions) rows come out
  complete with NO shuffle; only the optional layout repartition by
  term shuffles.
- A phrase query touches exactly ``len(phrase)`` term-pruned scans
  (pushed ``EqualTo`` on term, same as Q1), joined on doc_id
  RAREST-FIRST: join order is ascending document frequency, so the
  first join shrinks the stream to O(df_rarest) rows and AQE
  broadcasts the small build sides. A phrase containing an absent
  term short-circuits to empty without running any join.
- Adjacency is verified JVM-side with ``exists``/``array_contains``
  over the position arrays — no Python in the query path, no explode
  of positions.

Two tiers, mirroring the boolean/BM25 side of the engine:
``PositionalIndex`` (array layout, Catalyst query plan) and
``PositionalSegmentIndex`` (delta+varbyte compressed doc-sharded
segments, shard-parallel evaluation) — equivalence is pytest-gated.
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.config import IndexConfig
from textindexing_spark.functions.tokenize import tokenize_series
from textindexing_spark.operators.bm25 import by_shard_task

POSITIONAL_SCHEMA = "doc_id bigint, term string, positions array<int>"


def phrase_tokens(phrase: str, cfg: IndexConfig) -> list[str]:
    """Tokenize one query phrase with the index's tokenizer config —
    the single definition both tiers share (their equivalence contract
    includes query-side tokenization)."""
    import pandas as pd

    return list(tokenize_series(pd.Series([phrase]),
                                cfg.tokenizer, cfg.case_insensitive)[0])


POS_SEGMENT_SCHEMA = ("shard int, term string, n_docs bigint, "
                      "gaps_blob binary, plens_blob binary, "
                      "pos_blob binary")


def _positional_rows(ids, tok_lists, np, pd):
    """Vectorized (doc, term) -> positions grouping for one Arrow batch:
    factorize the flat token stream, stable-sort one combined
    (doc-position * V + term-code) key, and slice the in-doc position
    vector at group boundaries — no per-token Python loop."""
    from itertools import chain

    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    total = int(lens.sum())
    if total == 0:
        return (np.empty(0, np.int64), np.empty(0, object), [])
    flat = np.fromiter(chain.from_iterable(tok_lists), dtype=object,
                       count=total)
    codes, uniq = pd.factorize(flat)
    codes = codes.astype(np.int64, copy=False)
    V = len(uniq)
    docpos = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    offsets = np.repeat(np.cumsum(lens) - lens, lens)
    pos_in_doc = (np.arange(total, dtype=np.int64) - offsets).astype(
        np.int32)
    key = docpos * V + codes
    order = np.argsort(key, kind="stable")  # stable: positions ascend
    ksort = key[order]
    psort = pos_in_doc[order]
    starts = np.flatnonzero(np.r_[True, ksort[1:] != ksort[:-1]])
    positions = np.split(psort, starts[1:])
    gkey = ksort[starts]
    return (ids[gkey // V], np.asarray(uniq, dtype=object)[gkey % V],
            [p.tolist() for p in positions])


def positional_postings(docs: DataFrame, cfg: IndexConfig | None = None,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """docs(doc_id, text, ...) -> positional(doc_id, term, positions)."""
    from textindexing_spark._pkg import ensure_shipped

    ensure_shipped(docs.sparkSession)
    cfg = cfg or IndexConfig()
    tokenizer = cfg.tokenizer
    fold = cfg.case_insensitive

    def _tok(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tok_lists = tokenize_series(pdf[text_col], tokenizer, fold)
            doc_id, term, positions = _positional_rows(
                pdf[id_col].to_numpy(np.int64), tok_lists, np, pd)
            yield pd.DataFrame(
                {"doc_id": pd.Series(doc_id, dtype="int64"),
                 "term": pd.Series(term, dtype="object"),
                 "positions": pd.Series(positions, dtype="object")})

    return docs.select(F.col(id_col).alias(id_col),
                       F.col(text_col).alias(text_col)) \
               .mapInPandas(_tok, schema=POSITIONAL_SCHEMA)


class PositionalIndex:
    """A queryable positional index (phrase-search surface)."""

    def __init__(self, spark, positional: DataFrame,
                 cfg: IndexConfig | None = None):
        self.spark = spark
        self.positional = positional
        self.cfg = cfg or IndexConfig()

    @classmethod
    def build(cls, spark, docs: DataFrame, cfg: IndexConfig | None = None,
              id_col: str = "doc_id",
              text_col: str = "text") -> "PositionalIndex":
        """Build is shuffle-FREE: one Arrow-batched mapInPandas pass —
        every (term, doc, positions) row leaves its input partition
        complete, so there is nothing a build-time repartition by term
        buys (an in-memory filter scans every cached partition no matter
        how rows are keyed, and ``save()`` re-clusters by term for the
        on-disk layout where row-group pruning DOES pay). Round 3 paid
        that unnecessary position-array shuffle at build time — the
        bench's positional_build row was ~2-4x the fused segment build."""
        cfg = cfg or IndexConfig()
        pos = positional_postings(docs, cfg, id_col, text_col)
        return cls(spark, pos, cfg)

    def save(self, path: str) -> None:
        """Persist as a term-clustered parquet table (one file group per
        term hash-bucket, so a phrase query's per-term pruned scans read
        contiguous row groups; parquet min/max stats on the sorted term
        column give row-group pruning for the pushed EqualTo)."""
        (self.positional.repartition(F.col("term"))
         .sortWithinPartitions("term", "doc_id")
         .write.mode("overwrite").parquet(path))

    @classmethod
    def load(cls, spark, path: str,
             cfg: IndexConfig | None = None) -> "PositionalIndex":
        return cls(spark, spark.read.parquet(path), cfg)

    def cache(self) -> "PositionalIndex":
        self.positional = self.positional.cache()
        return self

    def unpersist(self) -> None:
        try:
            self.positional.unpersist()
        except Exception:
            pass

    def _tokens(self, phrase: str) -> list[str]:
        return phrase_tokens(phrase, self.cfg)

    def _joined_term_scans(self, toks: list[str]):
        """Shared scaffolding for phrase/proximity: resolve each token's
        df with one tiny pruned agg (absent token -> None, the caller's
        empty short-circuit — no join runs), then join the per-slot
        pruned scans on doc_id RAREST-FIRST. Returns the joined frame
        with position arrays as columns p0..p{m-1} (slot order), or a
        plain doc_id frame for a single token."""
        dfs = {r["term"]: r["c"] for r in
               (self.positional
                .where(F.col("term").isin(*set(toks)))
                .groupBy("term").agg(F.count("*").alias("c"))
                .collect())}
        if any(t not in dfs for t in toks):
            return None
        if len(toks) == 1:
            return (self.positional
                    .where(F.col("term") == toks[0])
                    .select("doc_id"))
        order = sorted(range(len(toks)), key=lambda i: (dfs[toks[i]], i))
        scans = {
            i: (self.positional
                .where(F.col("term") == toks[i])
                .select("doc_id", F.col("positions").alias(f"p{i}")))
            for i in range(len(toks))}
        joined = scans[order[0]]
        for i in order[1:]:
            joined = joined.join(scans[i], "doc_id")
        return joined

    def search_phrase(self, phrase: str) -> DataFrame:
        """doc_ids containing the phrase's tokens CONSECUTIVELY (in
        tokenizer order — intervening punctuation/whitespace folds away
        exactly as it does at index time). Empty/absent-term phrases
        return an empty frame, never an error (Q1 semantics)."""
        toks = self._tokens(phrase)
        if not toks:
            return self.spark.createDataFrame([], "doc_id bigint")
        joined = self._joined_term_scans(toks)
        if joined is None:
            return self.spark.createDataFrame([], "doc_id bigint")
        if len(toks) == 1:
            return joined
        # adjacency: some start p in p0 has p+i present in every pi
        cond = F.exists(
            F.col("p0"),
            lambda p: reduce(
                lambda a, b: a & b,
                [F.array_contains(F.col(f"p{i}"), p + F.lit(i))
                 for i in range(1, len(toks))]))
        return joined.where(cond).select("doc_id")

    def search_near(self, query: str, k: int,
                    ordered: bool = False) -> DataFrame:
        """Proximity search — doc_ids where the query's terms co-occur
        within a window of ``k`` token positions (max-min position <=
        k). ``ordered=True`` additionally requires the terms to appear
        in query order (strictly increasing positions), so
        ``search_near(q, len(tokens)-1, ordered=True)`` is exactly
        ``search_phrase(q)`` (pytest-gated equivalence). Duplicate terms
        in an UNORDERED query collapse to one occurrence requirement
        (ordered queries keep their slots). Pure Catalyst: per-term
        pruned scans joined on doc_id, window check as nested
        higher-order EXISTS over the position arrays (anchored at the
        window minimum, so the check is exact, not a 2k approximation)."""
        toks = self._tokens(query)
        if not ordered:
            toks = list(dict.fromkeys(toks))
        empty = self.spark.createDataFrame([], "doc_id bigint")
        if not toks or k < 0:
            return empty
        joined = self._joined_term_scans(toks)
        if joined is None:
            return empty
        if len(toks) == 1:
            return joined
        m = len(toks)
        # All HOF lambdas below take exactly ONE parameter and capture
        # loop/recursion state via closures (a function per level), not
        # default arguments — PySpark counts a lambda's parameters to
        # decide the Catalyst lambda's arity, so `lambda q, i=i:` would
        # be treated as a TWO-variable lambda and fail to resolve.
        if ordered:
            def chain(i, prev, anchor):
                if i == m:
                    return F.lit(True)

                def step(q):
                    return ((q > prev) & (q <= anchor + k)
                            & chain(i + 1, q, anchor))

                return F.exists(F.col(f"p{i}"), step)

            cond = F.exists(F.col("p0"), lambda p: chain(1, p, p))
        else:
            # exact window: anchor at the choice's MINIMUM position —
            # some term j holds it and every other term has a position
            # in [anchor, anchor + k]
            def others(j, p):
                def in_window(q):
                    return (q >= p) & (q <= p + k)

                c = F.lit(True)
                for i in range(m):
                    if i != j:
                        c = c & F.exists(F.col(f"p{i}"), in_window)
                return c

            def anchored_at(j):
                return lambda p: others(j, p)

            cond = reduce(
                lambda a, b: a | b,
                [F.exists(F.col(f"p{j}"), anchored_at(j))
                 for j in range(m)])
        return joined.where(cond).select("doc_id")


# --- compressed tier: positional segments (the 100 TB phrase path) ----------

def _pos_rows() -> dict:
    """An empty POS_SEGMENT_SCHEMA column dict for ``_append_pos_term``."""
    return {"shard": [], "term": [], "n_docs": [], "gaps_blob": [],
            "plens_blob": [], "pos_blob": []}


_POS_COLS = list(_pos_rows())


def _append_pos_term(out: dict, shard, term, doc_ids, plens, flat, np):
    """The one writer of positional segment rows: encode one (shard,
    term) posting list (``_encode_term_arrays``) and append it to
    ``out``."""
    gb, plb, pb = _encode_term_arrays(doc_ids, plens, flat, np)
    for c, v in zip(out, (int(shard), term, int(doc_ids.size),
                          gb, plb, pb)):
        out[c].append(v)


def _encode_pos_shard(shard: int, pdf, np):
    """One doc shard's positional rows -> compressed per-term segments.

    Per term (docs sorted ascending): doc-id gaps varbyte'd (first value
    absolute), per-doc position counts varbyte'd, and in-document
    position deltas varbyte'd (first position of each doc absolute) —
    the classic Lucene-style proximity layout, numpy-vectorized."""
    out = _pos_rows()
    if pdf.empty:
        return out
    pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
    for term, sub in pdf.groupby("term", sort=False):
        doc_ids = sub["doc_id"].to_numpy(np.int64)
        pos_lists = [np.asarray(p, dtype=np.int64)
                     for p in sub["positions"]]
        plens = np.fromiter((len(p) for p in pos_lists), np.int64,
                            count=len(pos_lists))
        flat = (np.concatenate(pos_lists) if pos_lists
                else np.empty(0, np.int64))
        _append_pos_term(out, shard, term, doc_ids, plens, flat, np)
    return out


def _encode_term_arrays(doc_ids, plens, flat, np):
    """Decoded (doc_ids sorted, per-doc counts, flat ABSOLUTE positions)
    -> (gaps_blob, plens_blob, pos_blob) bytes — the inverse of
    ``_decode_pos_term``, same layout as ``_encode_pos_shard``."""
    from textindexing_spark.operators.codec import varbyte_encode

    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    gaps[1:] = np.diff(doc_ids)
    delta = np.empty_like(flat)
    if flat.size:
        delta[0] = flat[0]
        delta[1:] = np.diff(flat)
        starts = np.cumsum(plens) - plens
        delta[starts] = flat[starts]  # first of each doc: absolute
    return (varbyte_encode(gaps).tobytes(),
            varbyte_encode(plens).tobytes(),
            varbyte_encode(delta).tobytes())


def _decode_pos_term(n, gaps_blob, plens_blob, pos_blob, np):
    """One (shard, term) segment row -> (doc_ids, plens, per-doc absolute
    position arrays as one flat array + start offsets)."""
    from textindexing_spark.operators.codec import varbyte_decode

    n = int(n)
    doc_ids = np.cumsum(varbyte_decode(
        np.frombuffer(gaps_blob, dtype=np.uint8), n))
    plens = varbyte_decode(
        np.frombuffer(plens_blob, dtype=np.uint8), n)
    delta = varbyte_decode(
        np.frombuffer(pos_blob, dtype=np.uint8), int(plens.sum()))
    starts = np.cumsum(plens) - plens
    if delta.size:
        cs = np.cumsum(delta)
        base = np.zeros(n, dtype=np.int64)
        base[1:] = cs[starts[1:] - 1]
        flat = cs - np.repeat(base, plens)
    else:
        flat = delta
    return doc_ids, plens, starts, flat


def _merge_decoded(a, b, np):
    """Merge two decoded (doc_ids, plens, starts, flat) tuples for the
    SAME term into one, doc-id sorted. The two rows are doc-disjoint by
    upsert construction (a doc's postings live in exactly one row)."""
    doc_ids = np.concatenate([a[0], b[0]])
    plens = np.concatenate([a[1], b[1]])
    chunks = ([a[3][s:s + l] for s, l in zip(a[2], a[1])]
              + [b[3][s:s + l] for s, l in zip(b[2], b[1])])
    order = np.argsort(doc_ids, kind="mergesort")
    doc_ids = doc_ids[order]
    plens = plens[order]
    flat = (np.concatenate([chunks[i] for i in order]) if chunks
            else np.empty(0, np.int64))
    starts = np.cumsum(plens) - plens
    return doc_ids, plens, starts, flat


def _decode_shard_terms(sub, np):
    """One shard's segment rows -> {term: decoded postings}. Accumulates
    MULTIPLE rows per (shard, term) by merging them in doc order —
    defense in depth for stores written before the upsert passthrough
    fix (which could emit two rows for one term); dict assignment here
    used to silently drop all but the last row."""
    by_term: dict = {}
    for term, n, gb, plb, pb in zip(
            sub["term"].to_numpy(), sub["n_docs"].to_numpy(),
            sub["gaps_blob"], sub["plens_blob"], sub["pos_blob"]):
        dec = _decode_pos_term(n, gb, plb, pb, np)
        prev = by_term.get(term)
        by_term[term] = dec if prev is None else _merge_decoded(
            prev, dec, np)
    return by_term


class PositionalSegmentIndex:
    """Compressed positional index: delta+varbyte position postings in
    doc-sharded segments — the scale-tier twin of ``PositionalIndex``
    exactly as ``SegmentIndex`` (operators/bm25.py) is the scale tier of
    the array-layout boolean/BM25 ``Index``.

    Build is ONE shuffle (docs to their shard) + one encode task per
    shard; a phrase query is ONE job — a term-pruned segment scan
    grouped per shard, each task decoding only the query terms'
    segments, intersecting doc ids rarest-first, and verifying
    adjacency on the decoded position arrays. Shards evaluate
    independently, so query work scales with executors and no
    positions ever cross the network."""

    def __init__(self, spark, segments: DataFrame,
                 cfg: IndexConfig | None = None,
                 n_shards: int | None = None):
        self.spark = spark
        self.segments = segments
        self.cfg = cfg or IndexConfig()
        self.n_shards = n_shards

    @classmethod
    def build(cls, spark, docs: DataFrame, cfg: IndexConfig | None = None,
              n_shards: int = 64, id_col: str = "doc_id",
              text_col: str = "text") -> "PositionalSegmentIndex":
        from textindexing_spark._pkg import ensure_shipped

        ensure_shipped(spark)
        cfg = cfg or IndexConfig()
        pos = positional_postings(docs, cfg, id_col, text_col)
        pos = pos.withColumn(
            "shard", F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int"))

        def encode(pdf):
            import numpy as np
            import pandas as pd

            return pd.DataFrame(
                _encode_pos_shard(int(pdf["shard"].iloc[0]), pdf, np))

        seg = (by_shard_task(pos, n_shards)
               .applyInPandas(encode, POS_SEGMENT_SCHEMA))
        return cls(spark, seg, cfg, n_shards=n_shards)

    def save(self, path: str) -> None:
        import json

        from textindexing_spark.plans.manifest import fs_write_text

        (self.segments.repartition("shard")
         .sortWithinPartitions("shard", "term")
         .write.mode("overwrite").parquet(path))
        # underscore-prefixed: invisible to parquet readers (like _SUCCESS)
        fs_write_text(self.spark, f"{path}/_pos_meta.json",
                      json.dumps({"n_shards": self.n_shards}))

    @classmethod
    def load(cls, spark, path: str,
             cfg: IndexConfig | None = None) -> "PositionalSegmentIndex":
        import json

        from textindexing_spark.plans.manifest import (fs_exists,
                                                       fs_read_text)

        meta = f"{path}/_pos_meta.json"
        n_shards = (json.loads(fs_read_text(spark, meta)).get("n_shards")
                    if fs_exists(spark, meta) else None)
        return cls(spark,
                   spark.read.schema(POS_SEGMENT_SCHEMA).parquet(path), cfg,
                   n_shards=n_shards)

    def upsert(self, docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> "PositionalSegmentIndex":
        """Merge a batch into a NEW PositionalSegmentIndex (self stays a
        frozen snapshot), same semantics as ``SegmentIndex.upsert``:
        re-crawled docs replace their positional postings, empty token
        sets delete. Doc-sharding makes replacement shard-local; a
        shard-keyed cogroup rewrites only shards that received delta
        docs — untouched shards pass through without decoding, and
        within a touched shard, terms whose doc ids miss the delta pass
        through byte-identical (membership checked on the gaps blob
        alone)."""
        if not self.n_shards:
            raise ValueError(
                "upsert needs n_shards (index built by build() or loaded "
                "from a save() with _pos_meta.json)")
        new_pos = positional_postings(docs, self.cfg, id_col, text_col)
        # markers carry doc identity for EMPTY docs (no tokens -> no
        # positional rows), so deletes still reach their shard
        markers = docs.select(
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("array<int>").alias("positions"))
        delta = (new_pos.unionByName(markers)
                 .withColumn("shard",
                             F.pmod(F.col("doc_id"),
                                    F.lit(self.n_shards)).cast("int")))

        def merge(seg_pdf, delta_pdf):
            import numpy as np
            import pandas as pd

            shard = int(delta_pdf["shard"].iloc[0]) if len(delta_pdf) \
                else None
            return _merge_pos_shard((shard,), seg_pdf[_POS_COLS],
                                    delta_pdf, np, pd)

        n = self.n_shards
        merged = (by_shard_task(self.segments, n)
                  .cogroup(by_shard_task(delta, n))
                  .applyInPandas(merge, POS_SEGMENT_SCHEMA))
        return PositionalSegmentIndex(self.spark, merged, self.cfg,
                                      n_shards=self.n_shards)

    def reshard(self, n_shards: int) -> "PositionalSegmentIndex":
        """Re-shard to a multiple (grow/split) or divisor
        (shrink/coalesce) of the current shard count — the positional
        twin of ``SegmentIndex.reshard`` (operators/bm25.py), same CoW
        contract (self stays a frozen snapshot) and same no-re-tokenize,
        no-posting-row-shuffle execution (only re-keyed compressed blobs
        move). This tier shards by ``pmod(doc_id, S)`` directly, so BOTH
        directions are plain modulo arithmetic: grow computes each doc's
        child as pmod(doc_id, new) inside the parent's task (single-
        parent children, since pmod(d, m*old) mod old = pmod(d, old));
        shrink rewrites the shard column to pmod(shard, new) JVM-side
        and coalesces — ``_decode_shard_terms`` already merges multiple
        rows per (shard, term) in doc order."""
        if not self.n_shards:
            raise ValueError(
                "reshard needs n_shards (index built by build() or "
                "loaded from a save() with _pos_meta.json)")
        if n_shards == self.n_shards:
            return self
        if n_shards > self.n_shards and n_shards % self.n_shards == 0:
            new_n = n_shards

            def split(pdf):
                import numpy as np
                import pandas as pd

                out = _pos_rows()
                for term, dec in _decode_shard_terms(pdf, np).items():
                    doc_ids, plens, starts, flat = dec
                    child = np.mod(doc_ids, new_n)
                    for sh in np.unique(child):
                        m = child == sh
                        idx = np.flatnonzero(m)
                        sel = plens[idx]
                        if flat.size and sel.sum():
                            cs = np.cumsum(sel) - sel
                            ar = np.arange(int(sel.sum()))
                            take = (ar - np.repeat(cs, sel)
                                    + np.repeat(starts[idx], sel))
                            sub_flat = flat[take]
                        else:
                            sub_flat = np.empty(0, np.int64)
                        _append_pos_term(out, sh, term, doc_ids[idx], sel,
                                         sub_flat, np)
                return pd.DataFrame(out)

            seg = (by_shard_task(self.segments, self.n_shards)
                   .applyInPandas(split, POS_SEGMENT_SCHEMA))
        elif n_shards > 0 and self.n_shards % n_shards == 0:
            def coalesce(pdf):
                import numpy as np
                import pandas as pd

                out = _pos_rows()
                shard = int(pdf["shard"].iloc[0])
                for term, dec in _decode_shard_terms(pdf, np).items():
                    doc_ids, plens, _starts, flat = dec
                    _append_pos_term(out, shard, term, doc_ids, plens,
                                     flat, np)
                return pd.DataFrame(out)

            seg = (by_shard_task(
                       self.segments.withColumn(
                           "shard", F.pmod(F.col("shard"),
                                           F.lit(int(n_shards)))
                           .cast("int")), n_shards)
                   .applyInPandas(coalesce, POS_SEGMENT_SCHEMA))
        else:
            raise ValueError(
                f"reshard: {n_shards} must be a positive multiple or "
                f"divisor of the current {self.n_shards} shards "
                "(anything else = rebuild via build())")
        return PositionalSegmentIndex(self.spark, seg, self.cfg,
                                      n_shards=n_shards)

    def cache(self) -> "PositionalSegmentIndex":
        self.segments = self.segments.cache()
        return self

    def unpersist(self) -> None:
        try:
            self.segments.unpersist()
        except Exception:
            pass

    def _tokens(self, phrase: str) -> list[str]:
        return phrase_tokens(phrase, self.cfg)

    def documents_df(self) -> DataFrame:
        """DataFrame(doc_id) of every indexed document — decoded from
        the gaps blobs shard-locally (positions stay encoded), distinct
        within the shard task so only unique ids cross the wire. Used by
        maintenance ops (reconcile_deletes); not a query path."""
        def decode_ids(pdf_iter):
            import numpy as np
            import pandas as pd

            from textindexing_spark.operators.codec import varbyte_decode

            for pdf in pdf_iter:
                ids: set[int] = set()
                for n, gb in zip(pdf["n_docs"].to_numpy(),
                                 pdf["gaps_blob"]):
                    ids.update(np.cumsum(varbyte_decode(
                        np.frombuffer(gb, dtype=np.uint8),
                        int(n))).tolist())
                yield pd.DataFrame(
                    {"doc_id": pd.Series(sorted(ids), dtype="int64")})

        return (self.segments.select("n_docs", "gaps_blob")
                .mapInPandas(decode_ids, "doc_id bigint").distinct())

    def _search_specs(self, specs) -> DataFrame:
        """The one shard evaluator under every phrase/proximity search:
        ``specs`` is a list of ``(tokens, evaluate)`` queries, where
        ``evaluate(by_term, tokens, np=np)`` returns one shard's hits
        (``_eval_phrase``, or ``_eval_near`` bound to its window). Each
        shard task decodes every referenced term ONCE and runs every
        spec against the decoded dict. Returns (query_id, doc_id) with
        query_id indexing ``specs``; no job when no spec has a token."""
        all_terms = sorted({t for toks, _ in specs for t in toks})
        out_schema = "query_id int, doc_id bigint"
        if not all_terms:
            return self.spark.createDataFrame([], out_schema)

        def eval_shard(pdf):
            import numpy as np
            import pandas as pd

            qids: list[int] = []
            out_ids: list[int] = []
            if not pdf.empty:
                for _, sub in pdf.groupby("shard", sort=False):
                    by_term = _decode_shard_terms(sub, np)
                    for qid, (toks, evaluate) in enumerate(specs):
                        hits = evaluate(by_term, toks, np=np)
                        qids.extend([qid] * len(hits))
                        out_ids.extend(hits)
            return pd.DataFrame(
                {"query_id": pd.Series(qids, dtype="int32"),
                 "doc_id": pd.Series(out_ids, dtype="int64")})

        pruned = self.segments.where(F.col("term").isin(*all_terms))
        return (pruned.groupBy("shard")
                .applyInPandas(lambda key, pdf: eval_shard(pdf),
                               out_schema))

    def _near_spec(self, query: str, k: int, ordered: bool) -> tuple:
        toks = self._tokens(query)
        if not ordered:
            toks = list(dict.fromkeys(toks))
        return toks, partial(_eval_near, k=int(k), ordered=bool(ordered))

    def search_phrase(self, phrase: str) -> DataFrame:
        """doc_ids containing the phrase tokens consecutively; same
        semantics as ``PositionalIndex.search_phrase`` (equivalence is
        pytest-gated), evaluated shard-locally on compressed segments."""
        return self.search_phrase_many([phrase]).select("doc_id")

    def search_phrase_many(self, phrases) -> DataFrame:
        """Batched serving mode: evaluate a whole PHRASE SET in ONE job
        (≙ ``search_bm25_many``/``search_bool_many``). Each shard task
        decodes every referenced term ONCE and evaluates all queries
        against the decoded dictionary — per-query jobs pay the full
        shard-task scheduling cost |Q| times; this pays it once.
        Returns (query_id, doc_id); query_id indexes ``phrases``;
        no-match (or empty/absent-term) queries contribute no rows."""
        return self._search_specs(
            [(self._tokens(p), _eval_phrase) for p in phrases])

    def search_near_many(self, queries) -> DataFrame:
        """Batched proximity serving (≙ ``search_phrase_many``): evaluate
        a whole set of proximity queries in ONE job, decoding every
        referenced term once per shard task. ``queries``: list of
        (query_text, k) or (query_text, k, ordered) tuples. Returns
        (query_id, doc_id); query_id indexes ``queries``."""
        return self._search_specs(
            [self._near_spec(q[0], q[1], len(q) > 2 and q[2])
             for q in queries])

    def search_near(self, query: str, k: int,
                    ordered: bool = False) -> DataFrame:
        """Proximity search on compressed segments — same semantics as
        ``PositionalIndex.search_near`` (cross-tier equivalence is
        pytest-gated), evaluated shard-locally: per-term pruned segment
        scan, decode once per shard task, numpy window sweep."""
        if k < 0:
            return self.spark.createDataFrame([], "doc_id bigint")
        return (self._search_specs([self._near_spec(query, k, ordered)])
                .select("doc_id"))


def _candidates(by_term: dict, toks: list, np):
    """Rarest-first doc-id intersection of ``toks`` over one shard's
    decoded term dict. Returns (uniq, cand, pos): the distinct tokens
    rarest first, the candidate doc ids holding all of them, and
    ``pos(t, j)`` — token t's positions in candidate j. None when a
    token is absent or no doc holds them all."""
    if not toks or any(t not in by_term for t in toks):
        return None
    uniq = sorted(set(toks), key=lambda t: by_term[t][0].size)
    cand = by_term[uniq[0]][0]
    for t in uniq[1:]:
        if cand.size == 0:
            break
        cand = cand[np.isin(cand, by_term[t][0], assume_unique=True)]
    if cand.size == 0:
        return None
    sliced = {}
    for t in uniq:
        doc_ids, plens, starts, flat = by_term[t]
        idx = np.searchsorted(doc_ids, cand)
        sliced[t] = (starts[idx], plens[idx], flat)

    def pos(t, j):
        s, l, f = sliced[t]
        return f[s[j]:s[j] + l[j]]

    return uniq, cand, pos


def _eval_phrase(by_term: dict, toks: list, np) -> list:
    """Evaluate one tokenized phrase against one shard's decoded term
    dict: ``_candidates``, then per-candidate adjacency verification on
    the absolute position arrays."""
    found = _candidates(by_term, toks, np)
    if found is None:
        return []
    _, cand, pos = found
    out: list[int] = []
    for j, d in enumerate(cand):
        p = pos(toks[0], j)
        for i in range(1, len(toks)):
            p = p[np.isin(p + i, pos(toks[i], j), assume_unique=True)]
            if p.size == 0:
                break
        if p.size:
            out.append(int(d))
    return out


def _eval_near(by_term: dict, toks: list, k: int, ordered: bool,
               np) -> list:
    """Evaluate one proximity query against one shard's decoded term
    dict: ``_candidates``, then per-candidate window verification.
    Unordered = minimal-window sweep over the merged labeled position
    lists; ordered = greedy chain per anchor (smallest admissible next
    position is optimal for a fixed anchor)."""
    found = None if k < 0 else _candidates(by_term, toks, np)
    if found is None:
        return []
    uniq, cand, pos = found
    m = len(toks)
    out: list[int] = []
    for j, d in enumerate(cand):
        if m == 1:
            out.append(int(d))
            continue
        if ordered:
            arrs = [pos(t, j) for t in toks]
            hit = False
            for p in arrs[0]:
                cur, ok = p, True
                for i in range(1, m):
                    a = arrs[i]
                    nxt = np.searchsorted(a, cur + 1)
                    if nxt == a.size or a[nxt] > p + k:
                        ok = False
                        break
                    cur = a[nxt]
                if ok:
                    hit = True
                    break
        else:
            arrs = [pos(t, j) for t in uniq]
            labels = np.concatenate(
                [np.full(a.size, i, dtype=np.int32)
                 for i, a in enumerate(arrs)])
            ps = np.concatenate(arrs)
            o = np.argsort(ps, kind="stable")
            ps, labels = ps[o], labels[o]
            need = len(arrs)
            counts = np.zeros(need, dtype=np.int64)
            have, left, hit = 0, 0, False
            for r in range(ps.size):
                c = labels[r]
                counts[c] += 1
                if counts[c] == 1:
                    have += 1
                while have == need:
                    if ps[r] - ps[left] <= k:
                        hit = True
                        break
                    cl = labels[left]
                    counts[cl] -= 1
                    if counts[cl] == 0:
                        have -= 1
                    left += 1
                if hit:
                    break
        if hit:
            out.append(int(d))
    return out


def _merge_pos_shard(key, seg_pdf, delta_pdf, np, pd):
    """Cogroup task for PositionalSegmentIndex.upsert: one doc shard's
    resident segment rows + its delta rows -> new segment rows.

    Untouched shards (empty delta) pass through without decoding.
    Within a touched shard, a resident term passes through
    byte-identical ONLY when no resident doc is upserted AND the delta
    adds no fresh rows for that term (otherwise the fresh re-encode
    would emit a SECOND (shard, term) row — the round-3 advisor bug
    where queries' per-term dict kept just one of the two, dropping
    resident docs from results); such terms are instead decoded and
    their surviving docs folded into the re-encode. The membership
    check decodes only the gaps blob — the positions blob, the dominant
    payload, stays encoded for true passthrough rows."""
    from textindexing_spark.operators.codec import varbyte_decode

    if delta_pdf.empty:
        return seg_pdf
    shard = int(key[0])
    upserted = np.unique(delta_pdf["doc_id"].to_numpy(np.int64))
    fresh = delta_pdf[delta_pdf["term"].notna()]
    fresh_terms = set(fresh["term"])
    passthrough = []
    re_doc, re_term, re_pos = [], [], []
    for row in seg_pdf.to_dict("records"):
        n = int(row["n_docs"])
        doc_ids = np.cumsum(varbyte_decode(
            np.frombuffer(row["gaps_blob"], dtype=np.uint8), n))
        hit = np.isin(doc_ids, upserted, assume_unique=True)
        if not hit.any() and row["term"] not in fresh_terms:
            passthrough.append(row)
            continue
        _, plens, starts, flat = _decode_pos_term(
            n, row["gaps_blob"], row["plens_blob"], row["pos_blob"], np)
        for j in np.flatnonzero(~hit):
            re_doc.append(int(doc_ids[j]))
            re_term.append(row["term"])
            re_pos.append(flat[starts[j]:starts[j] + plens[j]].tolist())
    re_doc.extend(int(d) for d in fresh["doc_id"])
    re_term.extend(fresh["term"])
    re_pos.extend(list(p) for p in fresh["positions"])
    out = pd.DataFrame(_encode_pos_shard(shard, pd.DataFrame(
        {"doc_id": pd.Series(re_doc, dtype="int64"),
         "term": pd.Series(re_term, dtype="object"),
         "positions": pd.Series(re_pos, dtype="object")}), np))
    if passthrough:
        out = pd.concat([pd.DataFrame(passthrough), out],
                        ignore_index=True)
    return out
