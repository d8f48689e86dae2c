"""Index: the query surface — operators Q1-Q5, B1-B6, A1-A3, T3
(SURVEY.md sections 2.3-2.6).

Mirrors the reference's ``IIndex`` / ``IReadOnlyIndex`` contract
(Indexing/IIndex.cs) plus the example app's boolean query composition
(examples/Primitive.Text.Indexing.UI/IndexerViewModel.cs:73-108) and the
north-star BM25 ranked-retrieval extension.

The index is two DataFrames:

    postings(term STRING, df BIGINT, total_tf BIGINT,
             postings ARRAY<STRUCT<doc_id BIGINT, tf INT>>)   -- sorted
    documents(doc_id BIGINT, doc_len BIGINT)                   -- ≙ allDocuments

Invariants carried from the reference (SURVEY.md 1.4): no term row with an
empty posting array (IIndex.cs:67-69); documents holds exactly the docs
present in >=1 posting list; a snapshot is frozen against later merges
(IndexTests.cs:102-118).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from textindexing_spark.config import IndexConfig

_EMPTY_DOCS_SCHEMA = "doc_id bigint"


def parse_bool_expr(text: str | None):
    """Parse a boolean query into an AST of ('term', tok) / ('and', [..])
    / ('or', [..]) / ('not', child) nodes. Grammar (precedence NOT >
    AND > OR; adjacency is implicit AND, as in ``search_bool``):

        expr  := and ( OR and )*
        and   := unary ( AND? unary )*
        unary := NOT unary | '(' expr ')' | token

    Operators are recognized UPPERCASE-ONLY (``AND OR NOT``) so the
    lowercase words stay searchable terms (the default tokenizer folds
    terms to lowercase, so an uppercase term never exists). Double-quoted
    spans parse as ('phrase', inner_text) nodes — exact consecutive-token
    match, e.g. ``"row scan" AND NOT slow`` (evaluation needs a positional
    index attached, Index.attach_positional). A ``~`` suffix makes a
    fuzzy term node — ``merg~`` (edit distance <= 2, the conventional
    default) or ``merg~1`` — parsed as ('fuzzy', (word, dist)). An
    unescaped ``~`` is ALWAYS the fuzzy operator (Lucene's rule): a
    term that legitimately contains ``~`` (the punctuation tokenizer
    keeps Sm characters) is written escaped (``x\\~y``) or quoted
    (``"x~y"``). Returns None for an empty query. Raises ValueError on
    malformed input (unbalanced parens, dangling operator, unterminated
    quote, malformed fuzzy suffix)."""
    import re

    toks = re.findall(r'"[^"]*"|\(|\)|[^\s()]+', text or "")
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def parse_or():
        nodes = [parse_and()]
        while peek() == "OR":
            take()
            nodes.append(parse_and())
        return nodes[0] if len(nodes) == 1 else ("or", nodes)

    def parse_and():
        nodes = [parse_unary()]
        while peek() not in (None, ")", "OR"):
            if peek() == "AND":
                take()
                if peek() in (None, ")", "OR", "AND"):
                    raise ValueError("dangling AND")
            nodes.append(parse_unary())
        return nodes[0] if len(nodes) == 1 else ("and", nodes)

    def parse_unary():
        t = peek()
        if t == "NOT":
            take()
            if peek() in (None, ")", "OR", "AND"):
                raise ValueError("dangling NOT")
            return ("not", parse_unary())
        if t == "(":
            take()
            node = parse_or()
            if take() != ")":
                raise ValueError("unbalanced parentheses")
            return node
        if t in (None, ")", "OR", "AND"):
            raise ValueError(f"unexpected {t!r}")
        if t.startswith('"'):
            if len(t) < 2 or not t.endswith('"'):
                raise ValueError("unterminated quote")
            inner = take()[1:-1].strip()
            if not inner:
                raise ValueError("empty phrase")
            # a one-word phrase IS an exact term lookup — no positional
            # index needed. EXCEPT when the word carries a '*': a term
            # node would be wildcard-routed downstream, and the whole
            # point of quoting (per the convention above) is to make
            # operator characters literal term material — keep it a
            # phrase node so it resolves by exact token match
            if len(inner.split()) == 1 and "*" not in inner:
                return ("term", inner)
            return ("phrase", inner)
        tok = take()
        if "~" in tok:
            if re.search(r"(?<!\\)~", tok) is None:
                # every '~' is backslash-escaped: literal term
                # material, not the fuzzy operator
                return ("term", tok.replace("\\~", "~"))
            m = re.fullmatch(r"((?:\\~|[^~*])+)~([0-2]?)", tok)
            if m is None:
                raise ValueError(
                    f"malformed fuzzy term {tok!r}: expected word~ "
                    f"or word~d with d in 0..2, no wildcards")
            return ("fuzzy",
                    (m.group(1).replace("\\~", "~"),
                     int(m.group(2) or 2)))
        return ("term", tok)

    if not toks:
        return None
    node = parse_or()
    if peek() is not None:
        raise ValueError(f"trailing input at {peek()!r}")
    return node


def unparse_bool_expr(node) -> str:
    """AST -> query text that ``parse_bool_expr`` parses back to the
    same AST (non-atomic children parenthesized; multi-word phrases —
    and terms that collide with the uppercase operators, which can only
    have come from a quoted literal — re-quoted)."""
    def wrap(child):
        t = unparse_bool_expr(child)
        return t if child[0] in ("term", "phrase", "fuzzy") else f"({t})"

    kind = node[0]
    if kind == "term":
        # '"AND" x' parses to ('term', 'AND'); unquoted it would
        # re-parse as the operator. Likewise a term containing '~'
        # would re-parse as fuzzy syntax — re-quote it.
        return f'"{node[1]}"' \
            if node[1] in ("AND", "OR", "NOT") or "~" in node[1] \
            else node[1]
    if kind == "fuzzy":
        core = node[1][0].replace("~", "\\~")
        return f"{core}~{node[1][1]}"
    if kind == "phrase":
        return f'"{node[1]}"'
    if kind == "not":
        return "NOT " + wrap(node[1])
    op = " AND " if kind == "and" else " OR "
    return op.join(wrap(c) for c in node[1])


def _lev_dist(a: str, b: str, cap: int) -> int:
    """Banded Levenshtein: the exact distance when <= cap, else cap+1.
    O(len*cap) — used only for driver-side fuzzy/suggest resolution
    over a prefetched dictionary (vocabulary-bound work); the
    distributed path uses Catalyst's levenshtein."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        lo, hi = max(1, i - cap), min(len(b), i + cap)
        if lo > 1:
            cur[lo - 1] = cap + 1  # outside the band
        for j in range(lo, hi + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != b[j - 1]))
        if hi < len(b):
            cur[hi + 1:] = [cap + 1] * (len(b) - hi)
        if min(cur[lo - 1:hi + 1]) > cap:
            return cap + 1
        prev = cur
    return min(prev[len(b)], cap + 1)


def _lev_within(a: str, b: str, cap: int) -> bool:
    """Banded Levenshtein predicate: dist(a, b) <= cap."""
    return _lev_dist(a, b, cap) <= cap


def expand_synonyms(query_text: str, synonyms: dict[str, list[str]],
                    fold=str.lower) -> str:
    """Query-time synonym expansion for the boolean language: each term
    node whose folded form has an entry in ``synonyms`` becomes an OR
    over the term and its synonyms — ``fast AND car`` with
    ``{"fast": ["quick"], "car": ["auto"]}`` rewrites to
    ``(fast OR quick) AND (car OR auto)``. Pure string -> string (feed
    the result to ``search_expr`` / ``search_expr_many``); phrases and
    wildcard tokens pass through unexpanded; NOT operands DO expand
    (``NOT fast`` excludes the synonyms too — the set-algebra reading).

    Scale: query rewrite only — the expanded OR evaluates through
    ``search_expr``'s union-distinct plan, so each synonym costs one
    pruned dictionary scan, nothing corpus-wide. Synonym tables at
    serving scale are driver-side dicts (vocabulary-bound, same budget
    class as the stats prefetch)."""
    syn = {fold(k): list(v) for k, v in (synonyms or {}).items()}
    for alts in syn.values():
        for a in alts:
            # a synonym VALUE must be a single plain term — an operator
            # word, space, or structural char would inject grammar into
            # the rewritten query ({"fast": ["NOT"]} -> dangling NOT)
            if (not a or a in ("AND", "OR", "NOT")
                    or any(ch in a for ch in ' ()"')):
                raise ValueError(f"synonym values must be single plain "
                                 f"terms, got {a!r}")

    def rewrite(node):
        kind = node[0]
        if kind == "term":
            alts = syn.get(fold(node[1]))
            if not alts or "*" in node[1]:
                return node
            seen = list(dict.fromkeys([node[1]] + alts))
            return ("or", [("term", t) for t in seen]) \
                if len(seen) > 1 else node
        if kind in ("phrase", "fuzzy"):
            return node
        if kind == "not":
            return ("not", rewrite(node[1]))
        return (kind, [rewrite(c) for c in node[1]])

    ast = parse_bool_expr(query_text)
    if ast is None or not syn:
        return query_text or ""
    return unparse_bool_expr(rewrite(ast))


def query_set(queries) -> tuple[dict, str]:
    """Normalize a batched query set to ({query_id: text}, id type).
    ``queries`` is a list of texts (each its own id) or a
    {query_id: text} dict. All-int ids come back as ``bigint``, all-str
    ids as ``string``; mixed ids raise TypeError before any job."""
    if not isinstance(queries, dict):
        queries = {q: q for q in queries}
    if all(isinstance(q, str) for q in queries):
        return queries, "string"
    if all(isinstance(q, int) for q in queries):
        return queries, "bigint"
    raise TypeError("query ids must be all int or all str")


def _flat_and_tokens(ast) -> list[str] | None:
    """The raw tokens of a flat all-positive AND (a lone term counts),
    else None — the shape ``_bool_docs``'s one-aggregation plan
    evaluates."""
    if ast[0] == "term":
        return [ast[1]]
    if ast[0] == "and" and all(c[0] == "term" for c in ast[1]):
        return [c[1] for c in ast[1]]
    return None


class Index:
    """A queryable inverted index (≙ IReadOnlyIndex + IIndex)."""

    def __init__(self, spark, postings: DataFrame, documents: DataFrame,
                 cfg: IndexConfig | None = None, tokens: DataFrame | None = None):
        self.spark = spark
        self.postings = postings
        self.documents = documents
        self.cfg = cfg or IndexConfig()
        self._tokens = tokens  # persisted intermediate, for unpersist()
        self._stats: tuple[int, float] | None = None
        # resolved token -> df lookups (rarest-first pruning pre-pass);
        # an Index is an immutable snapshot (merge returns a NEW Index),
        # so cached dfs can never go stale
        self._df_cache: dict[str, int] = {}
        # complete (term -> df) dictionary snapshot when
        # prepare_for_queries prefetched ALL of it; kept separate from
        # _df_cache because that mixes in wildcard-token memos whose
        # keys would corrupt wildcard df sums
        self._dict_df: dict[str, int] | None = None
        # optional positional tier resolving "quoted phrase" nodes in
        # the boolean language (attach_positional)
        self._phrase_index = None

    def documents_df(self) -> DataFrame:
        """(doc_id, doc_len) — the documents table, under the name both
        segment tiers give theirs."""
        return self.documents

    # -- maintenance ---------------------------------------------------------

    def cache(self) -> "Index":
        self.postings = self.postings.cache()
        self.documents = self.documents.cache()
        return self

    def unpersist(self) -> None:
        for df in (self.postings, self.documents, self._tokens):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def prepare_for_queries(self,
                            prefetch_stats: int | None = 200_000
                            ) -> "Index":
        """Pin the query-SERVING mode (≙ SegmentIndex.prepare_for_queries,
        operators/bm25.py): cache postings + documents (materialized now)
        and warm the driver-side term-df cache with the top-N terms by df
        — term+df only, never the posting arrays, so the prefetch job is
        a narrow dictionary scan and N=200k costs a few MB of driver
        memory. When the WHOLE dictionary fits the budget, the
        rarest-first pre-pass (`_token_dfs`) never launches a per-query
        Spark job again: an exact miss proves df=0 and wildcard dfs are
        summed driver-side over the dictionary snapshot. A dictionary
        larger than the budget keeps the per-query fallback for cold
        tokens (hot head terms still hit the cache). Call once on a
        long-lived query session; one-shot jobs don't need it."""
        self.postings = self.postings.cache()
        self.documents = self.documents.cache()
        self.postings.count()
        self.documents.count()
        if prefetch_stats:
            rows = (self.postings.select("term", "df")
                    .orderBy(F.col("df").desc())
                    .limit(int(prefetch_stats)).collect())
            dict_df = {r["term"]: int(r["df"]) for r in rows}
            self._df_cache.update(dict_df)
            # fewer rows than the budget => the ENTIRE dictionary is
            # cached; any future miss is a term not in the index
            if len(rows) < int(prefetch_stats):
                self._dict_df = dict_df
        return self

    # -- corpus stats (BM25 N / avgdl; ≙ A2 aggregate view) -------------------

    def corpus_stats(self) -> tuple[int, float]:
        if self._stats is None:
            row = self.documents.agg(
                F.count("*").alias("n"),
                F.avg("doc_len").alias("avgdl")).collect()[0]
            self._stats = (row["n"] or 0, float(row["avgdl"] or 0.0))
        return self._stats

    def describe(self, top_terms: int = 10) -> dict:
        """Index statistics in one dict: document count, average doc
        length, dictionary size, postings/token volume, and the
        ``top_terms`` heaviest terms by df (skew visibility — the
        salting-threshold dial reads straight off this list). Two
        driver-scale actions over the dictionary (an aggregate and a
        top-k); never touches posting arrays."""
        n_docs, avgdl = self.corpus_stats()
        agg = self.postings.agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum("total_tf").alias("n_tokens")).collect()[0]
        head = [(r["term"], int(r["df"]))
                for r in self.postings
                .orderBy(F.col("df").desc(), "term")
                .select("term", "df").limit(top_terms).collect()]
        return {
            "n_docs": int(n_docs),
            "avgdl": round(avgdl, 4),
            "n_terms": int(agg["n_terms"] or 0),
            "n_postings": int(agg["n_postings"] or 0),
            "n_tokens": int(agg["n_tokens"] or 0),
            "head_terms": head,
        }

    # -- Q1-Q4: dictionary lookups -------------------------------------------

    def _fold(self, w: str) -> str:
        """Query-side term fold — must match the index-time fold exactly
        (functions/tokenize.py): lower for OrdinalIgnoreCase, invariant
        fold for InvariantCultureIgnoreCase, identity for Ordinal."""
        from textindexing_spark.functions.tokenize import fold_invariant

        if self.cfg.case_insensitive == "invariant":
            return fold_invariant(w)
        return w.lower() if self.cfg.case_insensitive else w

    def exact(self, word: str) -> DataFrame:
        """Q1 GetExactWord (ImmutableIndex.cs:44-52): equality filter,
        pushed to the scan; empty result if absent (never an error)."""
        return self.postings.where(F.col("term") == F.lit(self._fold(word)))

    def prefix(self, p: str) -> DataFrame:
        """Q2 GetWordsStartWith (ImmutableIndex.cs:54-71): Catalyst rewrites
        startswith on a sorted table to a range scan."""
        return self.postings.where(F.col("term").startswith(self._fold(p)))

    def suffix(self, s: str) -> DataFrame:
        """Q3 special case used by the example app's '*term' routing
        (IndexerViewModel.cs:101-105)."""
        return self.postings.where(F.col("term").endswith(self._fold(s)))

    def matching(self, predicate) -> DataFrame:
        """Q3 GetWordsMatching (ImmutableIndex.cs:73-82): arbitrary
        predicate over the dictionary. Accepts a SQL string or Column
        (Catalyst-evaluated, pushdown-friendly) OR any Python callable
        str -> bool — full parity with the reference's
        ``Func<string, bool>`` (IIndex.cs:52-62) via an Arrow-batched
        pandas UDF over the term column (the dictionary is tiny relative
        to postings, so the Python hop costs little; prefer SQL/Column
        predicates when expressible)."""
        from pyspark.sql import Column

        if isinstance(predicate, str):
            cond = F.expr(predicate)
        elif isinstance(predicate, Column):
            cond = predicate
        elif callable(predicate):
            @F.pandas_udf("boolean")
            def _pred(terms):
                return terms.map(lambda t: bool(predicate(t)))

            cond = _pred(F.col("term"))
        else:
            raise TypeError("predicate must be a SQL string, Column, or "
                            "callable str -> bool")
        return self.postings.where(cond)

    def words(self) -> DataFrame:
        """Q4 GetIndexedWords (ImmutableIndex.cs:84-90): sorted dictionary."""
        return self.postings.select("term").orderBy("term")

    def suggest(self, word: str, k: int = 5, max_dist: int = 2) -> DataFrame:
        """Did-you-mean (term, df, dist): dictionary terms within
        Levenshtein distance ``max_dist`` of the folded query word,
        ranked (dist asc, df desc, term asc), top ``k`` — the spelling
        suggester every search frontend runs when a term has df=0.

        Scale shape: the dictionary is vocabulary-bound (tiny vs
        postings); a |len(term) - len(word)| <= max_dist band is pushed
        to the scan before the JVM-side levenshtein, and the top-k is a
        TakeOrderedAndProject — one dictionary pass, no shuffle of
        postings. In a prepared serving session
        (``prepare_for_queries`` with the complete dictionary cached)
        the whole suggestion resolves DRIVER-SIDE against the (term,
        df) snapshot — zero Spark jobs, same budget class as fuzzy
        expansion. (Beyond the reference: it has no suggester; the
        natural pairing is with GetWordsMatching, IIndex.cs:52-62.)"""
        schema = "term string, df bigint, dist int"
        w = self._fold(word or "").strip()
        if not w:
            return self.spark.createDataFrame([], schema)
        if self._dict_df is not None:
            hits = []
            for t, df in self._dict_df.items():
                dd = _lev_dist(w, t, max_dist)
                if dd <= max_dist:
                    hits.append((t, int(df), dd))
            hits.sort(key=lambda r: (r[2], -r[1], r[0]))
            return self.spark.createDataFrame(hits[:k], schema)
        d = F.levenshtein(F.col("term"), F.lit(w))
        return (self.postings
                .where(F.abs(F.length("term") - F.lit(len(w)))
                       <= max_dist)
                .select("term", "df", d.alias("dist"))
                .where(F.col("dist") <= max_dist)
                .orderBy(F.col("dist").asc(), F.col("df").desc(),
                         F.col("term").asc())
                .limit(k))

    def complete(self, prefix: str, k: int = 10) -> DataFrame:
        """Auto-complete: dictionary terms starting with ``prefix``,
        ranked (df desc, term asc), top ``k`` — (term, df), the
        search-box suggester. Pushed StringStartsWith range scan over
        the sorted dictionary + TakeOrderedAndProject; never touches
        posting arrays. In a prepared serving session
        (``prepare_for_queries`` with the complete dictionary cached)
        it resolves DRIVER-SIDE against the (term, df) snapshot — zero
        Spark jobs per keystroke, same budget class as ``suggest``."""
        p = self._fold(prefix or "").strip()
        if not p:
            return self.spark.createDataFrame(
                [], "term string, df bigint")
        if self._dict_df is not None:
            hits = [(t, int(df)) for t, df in self._dict_df.items()
                    if t.startswith(p)]
            hits.sort(key=lambda r: (-r[1], r[0]))
            return self.spark.createDataFrame(
                hits[:k], "term string, df bigint")
        return (self.postings.where(F.col("term").startswith(p))
                .select("term", F.col("df").cast("bigint").alias("df"))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(k))

    def fuzzy_terms(self, word: str, max_dist: int = 2,
                    max_expansions: int = 50) -> list[str]:
        """Dictionary terms within Levenshtein ``max_dist`` of the folded
        ``word`` — the expansion set behind fuzzy query nodes
        (``merg~1``). Capped at ``max_expansions`` terms ranked
        (df desc, term asc): a short word at dist 2 can brush a huge
        swath of the dictionary, and an uncapped expansion would turn
        one sloppy token into an unbounded OR (same guard as Lucene's
        FuzzyQuery maxExpansions).

        Scale shape: with the serving dictionary prefetched
        (``prepare_for_queries``) the expansion is resolved entirely
        driver-side against the (term, df) snapshot — a fuzzy query
        costs ZERO extra Spark jobs; cold sessions fall back to one
        pruned dictionary scan (length band pushed ahead of the
        JVM-side levenshtein), never touching posting arrays."""
        w = self._fold(word or "").strip()
        if not w:
            return []
        if self._dict_df is not None:
            hits = [(t, df) for t, df in self._dict_df.items()
                    if abs(len(t) - len(w)) <= max_dist
                    and _lev_within(w, t, max_dist)]
        else:
            hits = [(r["term"], int(r["df"])) for r in
                    self.postings
                    .where(F.abs(F.length("term") - F.lit(len(w)))
                           <= max_dist)
                    .select("term", "df")
                    .where(F.levenshtein(F.col("term"), F.lit(w))
                           <= max_dist)
                    .collect()]
        hits.sort(key=lambda td: (-td[1], td[0]))
        return [t for t, _ in hits[:max_expansions]]

    # -- B1-B6: boolean query composition -------------------------------------

    def _route(self, token: str):
        """B2 wildcard routing (IndexerViewModel.cs:96-108): 'term*' ->
        prefix, '*term' -> suffix, else exact."""
        token = self._fold(token)
        if token.endswith("*"):
            return F.col("term").startswith(token[:-1])
        if token.startswith("*"):
            return F.col("term").endswith(token[1:])
        return F.col("term") == F.lit(token)

    @staticmethod
    def _is_wild(tok: str) -> bool:
        return tok.startswith("*") or tok.endswith("*")

    def _token_scans(self, tokens, dedup_wild: bool = False) -> DataFrame:
        """Union of (qi, doc_id) matches for a token list. All exact
        tokens share ONE isin scan (qi = the term itself — exact tokens
        are distinct terms); each wildcard token needs its own scan
        because one qi may match many dictionary words."""
        exacts = [t for t in tokens if not self._is_wild(t)]
        wilds = [t for t in tokens if self._is_wild(t)]
        per_scan = []
        if exacts:
            per_scan.append(
                self.postings.where(F.col("term").isin(exacts))
                    .select(F.col("term").alias("qi"),
                            F.explode("postings").alias("p"))
                    .select("qi", F.col("p.doc_id").alias("doc_id")))
        for tok in wilds:
            scan = (self.postings.where(self._route(tok))
                    .select(F.lit(tok).alias("qi"),
                            F.explode("postings").alias("p"))
                    .select("qi", F.col("p.doc_id").alias("doc_id")))
            per_scan.append(scan.distinct() if dedup_wild else scan)
        return reduce(DataFrame.unionByName, per_scan)

    def _token_dfs(self, tokens, wildcards: bool = True) -> dict[str, int]:
        """Document frequency per query token, resolved from the
        dictionary only (term+df columns — never touches posting arrays;
        the pushed filters make this a tiny range/point scan). A
        wildcard's df is the sum over its matched words — an upper bound
        on its doc-set size (overlap between words only shrinks it),
        which is the safe direction for both seed choice and the
        broadcast-size gate. Absent tokens resolve to 0. Results are
        memoized per Index (snapshots are immutable), so a repeated term
        across a query stream costs one dictionary scan total — and in a
        prepared serving session with the complete dictionary prefetched
        (prepare_for_queries) this NEVER launches a job: misses resolve
        driver-side against the dictionary snapshot. Returns only the
        requested tokens' dfs — never a copy of the whole cache, which
        after a complete-dictionary prefetch would be an O(|dictionary|)
        dict copy on every query.

        ``wildcards=False`` treats every token as a LITERAL dictionary
        term — the mode for tokens that came out of the tokenizer
        rather than query syntax (more_like_this): a corpus term like
        'ptr*' under a star-keeping tokenizer must resolve to its own
        df, not a prefix-sum over the dictionary (exact-literal lookups
        share the memo with exact query tokens — both are plain
        dictionary point reads)."""
        # memo keys: a star-carrying token means different things in
        # the two modes (wildcard pattern vs literal dictionary term);
        # literal lookups of wild-LOOKING tokens get a distinct key so
        # neither mode poisons the other's cache
        def ck(t):
            return t if wildcards or not self._is_wild(t) \
                else "\0lit:" + t

        requested = list(tokens)
        tokens = [t for t in tokens if ck(t) not in self._df_cache]
        if tokens and self._dict_df is not None:
            for t in tokens:
                if not (wildcards and self._is_wild(t)):
                    self._df_cache[ck(t)] = self._dict_df.get(t, 0)
                elif t.endswith("*"):
                    p = t[:-1]
                    self._df_cache[t] = sum(
                        df for w, df in self._dict_df.items()
                        if w.startswith(p))
                else:
                    s = t[1:]
                    self._df_cache[t] = sum(
                        df for w, df in self._dict_df.items()
                        if w.endswith(s))
            tokens = []
        if not tokens:
            return {t: self._df_cache[ck(t)] for t in requested}
        exacts = [t for t in tokens
                  if not (wildcards and self._is_wild(t))]
        wilds = [t for t in tokens if wildcards and self._is_wild(t)]
        parts = []
        if exacts:
            parts.append(self.postings.where(F.col("term").isin(exacts))
                         .select(F.col("term").alias("qi"),
                                 F.col("df").cast("bigint").alias("df")))
        parts.extend(
            self.postings.where(self._route(tok))
                .agg(F.coalesce(F.sum("df"), F.lit(0)).alias("df"))
                .select(F.lit(tok).alias("qi"), F.col("df"))
            for tok in wilds)
        dfs = dict.fromkeys(tokens, 0)
        for r in reduce(DataFrame.unionByName, parts).collect():
            dfs[r["qi"]] = int(r["df"])
        self._df_cache.update({ck(t): dfs[t] for t in tokens})
        return {t: self._df_cache[ck(t)] for t in requested}

    def _seed_docs(self, tok: str) -> DataFrame:
        """The doc-id set of one token (distinct only needed for
        wildcards — a single term's posting list is unique by doc)."""
        seed = (self.postings.where(self._route(tok))
                .select(F.explode("postings").alias("p"))
                .select(F.col("p.doc_id").alias("doc_id")))
        return seed.distinct() if self._is_wild(tok) else seed

    def search_bool(self, query_text: str) -> DataFrame:
        """Boolean AND of space-separated tokens with wildcard routing;
        each wildcard token is an OR-union over its matched words (B3,
        README.md:44-46); result ordered by doc_id asc (B5 orders by Id,
        IndexerViewModel.cs:93). Empty query -> empty result (:76-80).

        Scale: rarest-first pruning (≙ the reference AND-ing into the
        smallest HashSet first, IndexerViewModel.cs:84-92). A dictionary
        pre-pass resolves each token's df; if any token matches nothing
        the result is empty without touching postings, and when the
        rarest token's doc set fits a broadcast
        (cfg.bool_seed_broadcast_max) it is broadcast-semi-joined into
        every other token's scan BEFORE the intersection aggregation —
        `stopword AND rare` shuffles O(df_rarest) doc ids, never the
        stopword's full postings."""
        # dedup query tokens: AND-ing the same term twice == once
        tokens = list(dict.fromkeys(
            self._fold(t) for t in (query_text or "").split(" ") if t))
        if not tokens:
            return self.spark.createDataFrame([], _EMPTY_DOCS_SCHEMA)
        return self._bool_docs(tokens).orderBy("doc_id")

    def _bool_docs(self, tokens: list[str]) -> DataFrame:
        """``search_bool``'s plan without the final presentation sort —
        the doc-SET form consumers that re-aggregate (facet_counts) or
        re-join build on. ``tokens``: folded, deduped, non-empty."""
        if len(tokens) > 1 and self.cfg.bool_seed_broadcast_max > 0:
            dfs = self._token_dfs(tokens)
            rarest = min(tokens, key=lambda t: dfs[t])
            if dfs[rarest] == 0:  # some token matches nothing: AND = {}
                return self.spark.createDataFrame([], _EMPTY_DOCS_SCHEMA)
            if dfs[rarest] <= self.cfg.bool_seed_broadcast_max:
                matched = (self._token_scans(tokens)
                           .join(F.broadcast(self._seed_docs(rarest)),
                                 "doc_id", "left_semi"))
            else:  # seed too big to broadcast: keep the one-shuffle plan
                matched = self._token_scans(tokens)
        else:
            matched = self._token_scans(tokens)
        # B3 union-distinct within a token + B4 intersection across tokens
        # in one aggregation: a doc qualifies iff it matched every qi.
        return (matched.groupBy("doc_id")
                .agg(F.count_distinct("qi").alias("_nq"))
                .where(F.col("_nq") == len(tokens))
                .select("doc_id"))

    def search_expr(self, query_text: str) -> DataFrame:
        """Full boolean query language over the index: ``AND`` / ``OR``
        / ``NOT`` (uppercase-only operators), parentheses, implicit AND
        on adjacency, the same ``term*``/``*term`` wildcard routing
        as ``search_bool``, and ``word~``/``word~d`` fuzzy terms
        (Levenshtein expansion over the dictionary, ``fuzzy_terms``) —
        e.g. ``"(alpha OR beta*) AND NOT gamma"``, ``"merg~1 AND hash"``.
        Extends the reference's AND-only demo composition
        (IndexerViewModel.cs:73-108). Returns (doc_id) ordered asc.

        Scale shape: compositional set algebra over doc-id sets — AND is
        a chain of semi-joins starting from the RAREST positive conjunct
        (dictionary-df pre-pass, prefetch-covered), OR is union-distinct,
        NOT is an anti-join; a negation with no positive sibling
        subtracts from the documents dimension (the universe), so pure
        ``NOT x`` is well-defined. Every join is on doc_id and
        AQE-broadcastable when one side is small; a flat all-positive
        AND delegates to ``search_bool``'s one-aggregation plan."""
        docs = self._expr_docs(query_text)
        if docs is None:
            return self.spark.createDataFrame([], _EMPTY_DOCS_SCHEMA)
        return docs.orderBy("doc_id")

    def _expr_docs(self, query_text: str) -> DataFrame | None:
        """``search_expr``'s doc SET (distinct doc_id, no presentation
        sort); None for an empty/blank query. Flat all-positive ANDs
        take ``_bool_docs``'s one-aggregation plan."""
        ast = parse_bool_expr(query_text)
        if ast is None:
            return None
        toks = _flat_and_tokens(ast)
        if toks is not None:
            tokens = list(dict.fromkeys(self._fold(t) for t in toks))
            return self._bool_docs(tokens)
        return self._eval_expr(ast)

    def attach_positional(self, positional) -> "Index":
        """Attach a positional tier (PositionalIndex or
        PositionalSegmentIndex) so the boolean language resolves
        double-quoted phrase nodes — ``'"row scan" AND NOT slow'``.
        Phrase hits come from the positional tier's own search;
        everything else stays on this index. Returns self."""
        self._phrase_index = positional
        return self

    def _eval_expr(self, node) -> DataFrame:
        """Evaluate one AST node to a distinct doc_id DataFrame."""
        kind = node[0]
        if kind == "term":
            return self._seed_docs(self._fold(node[1]))
        if kind == "fuzzy":
            word, dist = node[1]
            terms = self.fuzzy_terms(word, dist)
            if not terms:
                return self.spark.createDataFrame([], _EMPTY_DOCS_SCHEMA)
            # OR over the expansion set = ONE isin scan (the expansion
            # terms are distinct dictionary words, so distinct only
            # after the union, exactly like a wildcard token)
            return (self.postings.where(F.col("term").isin(terms))
                    .select(F.explode("postings").alias("p"))
                    .select(F.col("p.doc_id").alias("doc_id"))
                    .distinct())
        if kind == "phrase":
            if self._phrase_index is None:
                raise ValueError(
                    'quoted-phrase queries need a positional index: '
                    'idx.attach_positional(PositionalSegmentIndex...)')
            return (self._phrase_index.search_phrase(node[1])
                    .select("doc_id"))
        if kind == "or":
            return reduce(DataFrame.unionByName,
                          (self._eval_expr(c) for c in node[1])).distinct()
        if kind == "not":
            # no positive context: complement against the universe
            return self.documents.select("doc_id").join(
                self._eval_expr(node[1]), "doc_id", "left_anti")
        pos = [c for c in node[1] if c[0] != "not"]
        neg = [c[1] for c in node[1] if c[0] == "not"]
        if pos:
            # start from the cheapest conjunct: rarest term first (ONE
            # batched dictionary pre-pass resolves every term's df;
            # non-term children can't be df-estimated — they go last)
            term_toks = [self._fold(c[1]) for c in pos if c[0] == "term"]
            dfs = self._token_dfs(term_toks) if term_toks else {}
            if any(dfs[t] == 0 for t in term_toks):
                # an absent positive conjunct empties the whole AND
                return self.spark.createDataFrame([], _EMPTY_DOCS_SCHEMA)
            terms = sorted((c for c in pos if c[0] == "term"),
                           key=lambda c: dfs[self._fold(c[1])])
            ordered = terms + [c for c in pos if c[0] != "term"]
            acc = self._eval_expr(ordered[0])
            for c in ordered[1:]:
                acc = acc.join(self._eval_expr(c), "doc_id", "left_semi")
        else:
            acc = self.documents.select("doc_id")
        for c in neg:
            acc = acc.join(self._eval_expr(c), "doc_id", "left_anti")
        return acc

    def search_expr_many(self, queries) -> DataFrame:
        """Batched boolean-language serving: a whole expression set in
        ONE job. Queries that are flat positive ANDs route through
        ``search_bool_many``'s shared-scan plan; the rest evaluate as
        compositional plans unioned with a query_id tag (one action —
        amortizes scheduling, not scans; complex expressions rarely
        share structure to merge). Returns (query_id, doc_id) with
        query_id indexing ``queries``, ordered by query_id, doc_id."""
        out_schema = "query_id int, doc_id bigint"
        flat: dict[str, list[int]] = {}
        branches = []
        for qid, text in enumerate(queries):
            ast = parse_bool_expr(text)
            if ast is None:
                continue
            toks = _flat_and_tokens(ast)
            if toks is not None:
                flat.setdefault(" ".join(toks), []).append(qid)
            else:
                branches.append(
                    self._eval_expr(ast)
                    .select(F.lit(qid).cast("int").alias("query_id"),
                            "doc_id"))
        if flat:
            fanout = self.spark.createDataFrame(
                [(t, qid) for t, qids in flat.items() for qid in qids],
                "qtext string, query_id int")
            shared = (self.search_bool_many(sorted(flat))
                      .withColumnRenamed("query_id", "qtext")
                      .join(F.broadcast(fanout), "qtext")
                      .select("query_id", "doc_id"))
            branches.append(shared)
        if not branches:
            return self.spark.createDataFrame([], out_schema)
        return (reduce(DataFrame.unionByName, branches)
                .orderBy("query_id", "doc_id"))

    def search_bool_many(self, queries) -> DataFrame:
        """Batched boolean search: evaluate a whole query SET in ONE job
        (per query identical to ``search_bool``). All queries' exact
        tokens share a single In-filter scan; each distinct wildcard
        token gets one scan regardless of how many queries use it; a
        broadcast (query_id, token) map fans matches out to queries and
        one aggregation applies the AND. ``queries``: list of query
        strings (each its own id) or {query_id: text} (``query_set``).
        Returns (query_id, doc_id) ordered by query_id, doc_id."""
        queries, id_type = query_set(queries)
        qtokens = {qid: list(dict.fromkeys(
                       self._fold(t) for t in (text or "").split(" ") if t))
                   for qid, text in queries.items()}
        qtokens = {qid: ts for qid, ts in qtokens.items() if ts}
        out_schema = f"query_id {id_type}, doc_id bigint"
        if not qtokens:
            return self.spark.createDataFrame([], out_schema)
        # rarest-first pruning for the whole batch: ONE dictionary
        # pre-pass resolves every token's df; queries with an absent
        # token are dropped (their AND is empty), and when the combined
        # seed (each query's rarest token's doc set) fits a broadcast it
        # is semi-joined per (query_id, doc_id) before the aggregation —
        # a query's frequent terms contribute only rows its rarest term
        # admits, so head-term postings never reach the shuffle.
        seeds = None
        if self.cfg.bool_seed_broadcast_max > 0:
            all_tokens = sorted({t for ts in qtokens.values() for t in ts})
            dfs = self._token_dfs(all_tokens)
            qtokens = {qid: ts for qid, ts in qtokens.items()
                       if all(dfs[t] > 0 for t in ts)}
            if not qtokens:
                return self.spark.createDataFrame([], out_schema)
            rarest = {qid: min(ts, key=lambda t: dfs[t])
                      for qid, ts in qtokens.items()}
            seed_tokens = sorted(set(rarest.values()))
            if sum(dfs[t] for t in seed_tokens) <= \
                    self.cfg.bool_seed_broadcast_max:
                seed_map = self.spark.createDataFrame(
                    sorted(rarest.items()),
                    f"query_id {id_type}, qi string")
                seeds = (self._token_scans(seed_tokens, dedup_wild=True)
                         .join(F.broadcast(seed_map), "qi")
                         .select("query_id", "doc_id"))
        qmap = self.spark.createDataFrame(
            [(qid, t) for qid, ts in qtokens.items() for t in ts],
            f"query_id {id_type}, qi string")
        all_tokens = sorted({t for ts in qtokens.values() for t in ts})
        # one wildcard token may match many words -> dedup per token
        fanned = (self._token_scans(all_tokens, dedup_wild=True)
                  .join(F.broadcast(qmap), "qi"))
        if seeds is not None:
            fanned = fanned.join(F.broadcast(seeds),
                                 ["query_id", "doc_id"], "left_semi")
        need = self.spark.createDataFrame(
            [(qid, len(ts)) for qid, ts in qtokens.items()],
            f"query_id {id_type}, _need int")
        return (fanned.groupBy("query_id", "doc_id")
                .agg(F.count_distinct("qi").alias("_nq"))
                .join(F.broadcast(need), "query_id")
                .where(F.col("_nq") == F.col("_need"))
                .select("query_id", "doc_id")
                .orderBy("query_id", "doc_id"))

    def facet_counts(self, query_text: str | None, meta: DataFrame,
                     by: str | list[str], k: int = 10,
                     hits: DataFrame | None = None) -> DataFrame:
        """(facet, value, n_docs, rank) — top-``k`` facet buckets over
        the result set of a boolean-language query (``search_expr``
        semantics; None/blank query facets the WHOLE corpus — the
        browse-page case). ``meta`` is any (doc_id, ...) dimension table
        — e.g. the source documents table's lang / source columns; ``by``
        names one facet column or several. NULL facet values count as
        their own bucket (value NULL), ranked after non-null ties.

        Scale shape: the query's doc set semi-joins ``meta`` on doc_id
        (AQE broadcasts the hit set when small), then ONE melt (stack)
        + hash aggregation counts every requested facet column in a
        single pass over the matched rows — facet dimensions are
        low-cardinality, so the aggregate output is tiny regardless of
        corpus size, and the per-facet top-k window runs over that tiny
        frame, not the data.

        ``hits``: a precomputed (doc_id) result set to facet INSTEAD of
        evaluating ``query_text`` — pass the (ideally persisted) doc set
        a serving request already computed for its result rows, so the
        request costs one query evaluation, not two."""
        from pyspark.sql import Window

        cols = [by] if isinstance(by, str) else list(by)
        if not cols:
            raise ValueError("need at least one facet column")
        bad = [c for c in cols + ["doc_id"] if c not in meta.columns]
        if bad:
            raise ValueError(f"columns not in meta: {bad}")
        if any(not c.replace("_", "").isalnum() for c in cols):
            raise ValueError(f"facet column names must be identifiers: "
                             f"{cols}")
        if hits is None and query_text is not None \
                and (query_text or "").strip():
            hits = self._expr_docs(query_text)
        rows = meta
        if hits is not None:
            # hits is already distinct by construction; dup right-side
            # rows wouldn't change a left-semi anyway
            rows = meta.join(hits.select("doc_id"), "doc_id", "left_semi")
        pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
        # n_docs counts DISTINCT documents: a meta table carrying
        # multiple rows per doc_id (e.g. from an upstream join) must
        # not count a document once per row — that would flip bucket
        # rankings. Two-phase distinct agg; output stays facet-dim tiny.
        melted = rows.select("doc_id", F.expr(
            f"stack({len(cols)}, {pairs}) as (facet, value)"))
        counts = melted.groupBy("facet", "value").agg(
            F.count_distinct("doc_id").alias("n_docs"))
        w = Window.partitionBy("facet").orderBy(
            F.col("n_docs").desc(), F.col("value").asc_nulls_last())
        return (counts.withColumn("rank",
                                  F.row_number().over(w).cast("int"))
                .where(F.col("rank") <= int(k))
                .orderBy("facet", "rank"))

    # -- T3 + M5: BM25 ranked retrieval ---------------------------------------

    def bm25_scores(self, query_text: str) -> DataFrame:
        """Per-document BM25 score for all docs containing >=1 query term
        (disjunctive / WAND-style candidate set). Pure Catalyst plan —
        JVM-side, codegen'd; the compressed-segment WAND path lives in
        operators/bm25.py and must return identical results."""
        from textindexing_spark.functions.tokenize import tokenize_text

        terms = sorted(set(tokenize_text(query_text, self.cfg.tokenizer,
                                         self.cfg.case_insensitive)))
        return self._bm25_scores_for_terms(terms)

    def _bm25_scores_for_terms(self, terms: list[str]) -> DataFrame:
        """``bm25_scores`` for an already-folded term list (the shared
        scoring plan under text queries and more_like_this)."""
        scored = self._bm25_term_weights(terms)
        if scored is None:
            return self.spark.createDataFrame(
                [], "doc_id bigint, score double")
        return scored.groupBy("doc_id").agg(F.sum("w").alias("score"))

    def _bm25_term_weights(self, terms: list[str]) -> DataFrame | None:
        """The per-(term, doc) weight frame UNDER the BM25 aggregation —
        columns (term, df, doc_id, tf, doc_len, idf, w) where
        sum(w) grouped by doc_id is exactly ``bm25_scores``. Shared by
        scoring (which aggregates it) and ``explain_bm25`` (which
        surfaces it). None for an empty term list."""
        if not terms:
            return None
        n_docs, avgdl = self.corpus_stats()
        k1, b = self.cfg.bm25.k1, self.cfg.bm25.b
        matched = (self.postings.where(F.col("term").isin(terms))
                   .select("term", "df", F.explode("postings").alias("p"))
                   .select("term", "df",
                           F.col("p.doc_id").alias("doc_id"),
                           F.col("p.tf").cast("double").alias("tf")))
        scored = (matched.join(self.documents, "doc_id")
                  .withColumn(
                      "idf",
                      F.log(F.lit(1.0) +
                            (F.lit(float(n_docs)) - F.col("df") + 0.5) /
                            (F.col("df") + 0.5)))
                  .withColumn(
                      "w",
                      F.col("idf") * (F.col("tf") * (k1 + 1.0)) /
                      (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") /
                                           float(avgdl)))))
        return scored

    def search_bm25(self, query_text: str, k: int | None = None,
                    filter_expr: str | None = None,
                    after: tuple[float, int] | None = None) -> DataFrame:
        """BM25 top-k: score desc, doc_id asc tie-break — Spark executes
        orderBy+limit as TakeOrderedAndProject (per-partition heaps +
        driver-side k-way merge), the distributed top-k reduce.

        ``filter_expr`` constrains the ranked candidates to the docs
        matching a boolean-language expression (``search_expr`` syntax:
        AND/OR/NOT, parentheses, wildcards) — filtered ranked retrieval,
        e.g. ``search_bm25("hash merge", 10, filter_expr="NOT spark")``.
        The filter's doc set semi-joins into the scoring candidates, so
        scores (idf, corpus stats) are UNCHANGED by the filter — only
        eligibility is, the standard filtered-search contract. An empty
        or whitespace-only ``filter_expr`` means NO filter (same as
        None) — a dynamically-built constraint string that ends up empty
        must not silently empty the results.

        ``after=(score, doc_id)``: keyset pagination — the top-k ranked
        strictly after the cursor (pass the previous page's last row
        VERBATIM: raw double score, not a rounded display value). The
        cursor becomes a plain predicate ahead of TakeOrderedAndProject,
        so every page costs the same one top-k reduce — never the
        offset-style score-all-then-skip.

        Determinism caveat: the tie test (``score == s``) assumes the
        page-2 job recomputes bit-identical sums. This path's
        ``F.sum(w)`` combine order follows shuffle arrival, which a
        multi-executor cluster does not pin — single-JVM local runs are
        stable, but CLUSTER serving should paginate on the WAND path
        (``SegmentIndex.search_bm25``), whose per-doc sums run in fixed
        per-shard Python order and are reproducible by construction."""
        k = k or self.cfg.default_k
        scores = self.bm25_scores(query_text)
        if filter_expr is not None:
            ast = parse_bool_expr(filter_expr)
            if ast is not None:  # None = empty text = unfiltered
                scores = scores.join(self._eval_expr(ast), "doc_id",
                                     "left_semi")
        if after is not None:
            from textindexing_spark.operators.bm25 import _cursor

            s, d = _cursor(after)
            scores = scores.where(
                (F.col("score") < s)
                | ((F.col("score") == s) & (F.col("doc_id") > d)))
        return (scores
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k))

    def explain_bm25(self, query_text: str, k: int | None = None
                     ) -> DataFrame:
        """Score explanation (the Lucene ``explain`` surface): for each
        of the top-k ranked documents, one row PER MATCHED QUERY TERM
        with every input to its BM25 contribution —

            (doc_id, score, term, tf, df, doc_len, idf, contribution)

        where sum(contribution) grouped by doc_id reproduces ``score``
        to double-precision rounding (both read the SAME per-term
        weight frame, ``_bm25_term_weights`` — not a re-derivation that
        could drift; only float summation order can differ). Plan: the
        ranking is the usual one-agg top-k reduce;
        the k surviving (doc_id, score) rows then broadcast-join back
        into the weight frame, so explanation costs one extra broadcast
        hash join over the already-pruned In-filter scan — no second
        full scoring pass, no shuffle keyed on anything new. Ordered
        score desc, doc_id asc, term asc."""
        from textindexing_spark.functions.tokenize import tokenize_text

        k = k or self.cfg.default_k
        terms = sorted(set(tokenize_text(query_text, self.cfg.tokenizer,
                                         self.cfg.case_insensitive)))
        weights = self._bm25_term_weights(terms)
        if weights is None:
            return self.spark.createDataFrame(
                [], "doc_id bigint, score double, term string, tf bigint,"
                    " df bigint, doc_len bigint, idf double,"
                    " contribution double")
        topk = (weights.groupBy("doc_id").agg(F.sum("w").alias("score"))
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k))
        return (weights.join(F.broadcast(topk), "doc_id")
                .select("doc_id", "score", "term",
                        F.col("tf").cast("bigint").alias("tf"),
                        F.col("df").cast("bigint").alias("df"),
                        F.col("doc_len").cast("bigint").alias("doc_len"),
                        "idf", F.col("w").alias("contribution"))
                .orderBy(F.col("score").desc(), F.col("doc_id").asc(),
                         F.col("term").asc()))

    def search_bm25_many(self, queries, k: int | None = None
                         ) -> DataFrame:
        """Batched BM25 serving on the Catalyst tier: a whole query set
        in ONE job (per query identical to ``search_bm25``; the WAND
        twin is ``SegmentIndex.search_bm25_many``). All queries' terms
        share one ``_bm25_term_weights`` frame (a single pruned
        In-filter postings scan); a broadcast (query_id, term) map fans
        its per-(term, doc) weights out to queries; one
        (query_id, doc_id) aggregation sums scores and a per-query
        window takes the top-k (Spark pushes it as a partial
        WindowGroupLimit ahead of the exchange, so only <=k rows per
        query per partition shuffle). ``queries``: list of query
        strings (each its own id) or {query_id: text} (``query_set``).
        Returns (query_id, doc_id, score) ordered query_id asc, score
        desc, doc_id asc."""
        from pyspark.sql import Window

        from textindexing_spark.functions.tokenize import tokenize_text

        k = k or self.cfg.default_k
        queries, id_type = query_set(queries)
        qterms = {qid: sorted(set(tokenize_text(
                      text, self.cfg.tokenizer, self.cfg.case_insensitive)))
                  for qid, text in queries.items()}
        qterms = {qid: ts for qid, ts in qterms.items() if ts}
        out_schema = f"query_id {id_type}, doc_id bigint, score double"
        if not qterms:
            return self.spark.createDataFrame([], out_schema)
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        qmap = self.spark.createDataFrame(
            [(qid, t) for qid, ts in qterms.items() for t in ts],
            f"query_id {id_type}, term string")
        scored = (self._bm25_term_weights(all_terms)
                  .join(F.broadcast(qmap), "term")
                  .groupBy("query_id", "doc_id")
                  .agg(F.sum("w").alias("score")))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc())
        return (scored.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= k)
                .select("query_id", "doc_id", "score")
                .orderBy("query_id", F.col("score").desc(),
                         F.col("doc_id").asc()))

    def more_like_this(self, text: str, k: int | None = None,
                       k_terms: int = 10, min_df: int = 2,
                       max_df_ratio: float = 0.25,
                       exclude_doc_id: int | None = None) -> DataFrame:
        """Query-by-example (the Lucene MoreLikeThis pattern): given a
        document's TEXT, select its ``k_terms`` most characteristic
        terms by tf·idf — skipping terms rarer than ``min_df`` (noise)
        or present in more than ``max_df_ratio`` of the corpus
        (stopword guard) — and rank the corpus by BM25 over that term
        set. Returns (doc_id, score) top-``k``, score desc / doc_id asc;
        ``exclude_doc_id`` drops the source document itself when the
        text came from the corpus.

        Takes text rather than a doc_id because the inverted layout has
        no per-document forward index — recovering one doc's term
        vector from postings would scan every posting array, while the
        caller holding the document (the universal serving shape:
        "find pages like this one") makes term selection FREE: tf is
        counted driver-side on the one document, df resolves through
        the memoized/prefetched dictionary (``_token_dfs`` — zero Spark
        jobs in a prepared serving session), so the whole query costs
        exactly one scoring job, same as ``search_bm25``."""
        from collections import Counter

        from textindexing_spark.functions.tokenize import tokenize_text

        k = k or self.cfg.default_k
        tf = Counter(tokenize_text(text or "", self.cfg.tokenizer,
                                   self.cfg.case_insensitive))
        if not tf:
            return self.spark.createDataFrame(
                [], "doc_id bigint, score double")
        n_docs, _ = self.corpus_stats()
        # wildcards=False: these tokens are TOKENIZER OUTPUT, not query
        # syntax — a corpus term like 'ptr*' (star-keeping tokenizer)
        # must weigh by its own df, not a dictionary prefix-sum, or
        # selection and the exact-isin scoring below would disagree
        dfs = self._token_dfs(sorted(tf), wildcards=False)
        df_cap = max_df_ratio * n_docs
        weighted = sorted(
            ((cnt * math.log(1.0 + (n_docs - dfs[t] + 0.5)
                             / (dfs[t] + 0.5)), t)
             for t, cnt in tf.items()
             if min_df <= dfs[t] <= df_cap),
            key=lambda wt: (-wt[0], wt[1]))
        selected = [t for _, t in weighted[:k_terms]]
        scores = self._bm25_scores_for_terms(sorted(selected))
        if exclude_doc_id is not None:
            scores = scores.where(F.col("doc_id") != int(exclude_doc_id))
        return (scores
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k))

    # -- A1 incremental merge (upsert) ----------------------------------------

    def merge(self, docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> "Index":
        """Upsert a batch of documents; returns a NEW Index (the old one is
        an unaffected snapshot — ≙ ImmutableIndex copy-on-write,
        ImmutableIndex.cs:98-180).

        Semantics (IIndex.cs:116-119, tested IndexTests.cs:31-62):
        re-merged docs REPLACE their postings (old-only terms disappear);
        a doc whose new token set is empty is DELETED everywhere.

        Execution: old postings minus the merge batch (anti-join on
        doc_id) unioned with the batch's fresh tokens, re-aggregated — a
        full LOGICAL rebuild whose physical cost is O(corpus). This is
        the demo-scale/equivalence-reference path ONLY; the O(batch)
        production merges are ``BucketedIndexStore.commit_merge`` (LSM
        delta commits + bucket-level copy-on-write compaction,
        sources/bucketed.py — what StreamingIngestor uses) and
        ``SegmentIndex.upsert`` (shard-local, operators/bm25.py). A
        warning is emitted so no caller adopts this path at scale
        unknowingly.
        """
        import warnings

        from textindexing_spark.operators.build import (
            document_lengths, postings_from_tokens, tokenize_documents)

        warnings.warn(
            "Index.merge is a full logical rebuild (O(corpus) per batch) "
            "kept as the demo-scale equivalence reference; use "
            "BucketedIndexStore.commit_merge or SegmentIndex.upsert for "
            "O(batch) incremental merges", stacklevel=2)

        new_tokens = tokenize_documents(docs, self.cfg, id_col=id_col,
                                        text_col=text_col)
        batch_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
        old_tokens = (self.postings
                      .select("term", F.explode("postings").alias("p"))
                      .select(F.col("p.doc_id").alias("doc_id"), "term",
                              F.col("p.tf").alias("tf")))
        kept = old_tokens.join(batch_ids, "doc_id", "left_anti")
        all_tokens = kept.select("doc_id", "term", "tf").unionByName(new_tokens)
        return Index(self.spark,
                     postings_from_tokens(all_tokens, self.cfg),
                     document_lengths(all_tokens),
                     self.cfg)

    # -- A3 delete by predicate ------------------------------------------------

    def remove_matching(self, predicate) -> "Index":
        """RemoveDocumentsMatching (ImmutableIndex.cs:182-206): drop all
        docs satisfying a predicate over the documents table from every
        posting list; emptied terms disappear. ``predicate`` is a Column or
        SQL string over documents' columns."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        remove_ids = self.documents.where(cond).select("doc_id")
        exploded = (self.postings
                    .select("term", F.explode("postings").alias("p"))
                    .select("term", F.col("p.doc_id").alias("doc_id"),
                            F.col("p.tf").alias("tf")))
        kept = exploded.join(remove_ids, "doc_id", "left_anti")
        posting = F.struct(F.col("doc_id"), F.col("tf"))
        new_postings = (kept.groupBy("term")
                        .agg(F.sort_array(F.collect_list(posting))
                              .alias("postings"),
                             F.count("*").alias("df"),
                             F.sum("tf").alias("total_tf"))
                        .select("term", "df", "total_tf", "postings"))
        new_documents = self.documents.join(remove_ids, "doc_id", "left_anti")
        return Index(self.spark, new_postings, new_documents, self.cfg)

    # -- Q5 snapshot -----------------------------------------------------------

    def snapshot(self, path: str | None = None) -> "Index":
        """Frozen read view (IIndex.cs:90-97). With a lake table format this
        is time travel; here we materialize to parquet (path or a managed
        temp dir) — later merges to self cannot affect the snapshot."""
        import tempfile

        path = path or tempfile.mkdtemp(prefix="tix_snapshot_")
        self.postings.write.mode("overwrite").parquet(f"{path}/postings")
        self.documents.write.mode("overwrite").parquet(f"{path}/documents")
        # persist the QUERY-relevant config: a loaded index must fold
        # query terms and score BM25 exactly as it was built (through
        # the path's Hadoop FS, like SegmentIndex._meta.json)
        import json

        from textindexing_spark.plans.manifest import fs_write_text

        fs_write_text(self.spark, f"{path}/_index_cfg.json", json.dumps(
            {"tokenizer": self.cfg.tokenizer,
             "case_insensitive": self.cfg.case_insensitive,
             "bm25": {"k1": self.cfg.bm25.k1, "b": self.cfg.bm25.b}}))
        return Index(self.spark,
                     self.spark.read.parquet(f"{path}/postings"),
                     self.spark.read.parquet(f"{path}/documents"),
                     self.cfg)

    save = snapshot

    @classmethod
    def load(cls, spark, path: str, cfg: IndexConfig | None = None) -> "Index":
        """An explicit ``cfg`` wins; else the snapshot's persisted
        config is restored (pre-cfg snapshots fall back to defaults)."""
        import json

        from textindexing_spark.plans.manifest import (fs_exists,
                                                       fs_read_text)

        if cfg is None and fs_exists(spark, f"{path}/_index_cfg.json"):
            from textindexing_spark.config import BM25Params

            m = json.loads(fs_read_text(spark, f"{path}/_index_cfg.json"))
            cfg = IndexConfig(
                tokenizer=m["tokenizer"],
                case_insensitive=m["case_insensitive"],
                bm25=BM25Params(k1=m["bm25"]["k1"], b=m["bm25"]["b"]))
        return cls(spark,
                   spark.read.parquet(f"{path}/postings"),
                   spark.read.parquet(f"{path}/documents"),
                   cfg)
