#!/usr/bin/env python
"""Query a saved index from the command line (spark-submit entry point;
``$ZIP`` is the path ``package_zip()`` prints):

    spark-submit --master <cluster> --py-files "$ZIP" \\
        scripts/query_index_submit.py --index <root> \\
        --query "hash merge fast" \\
        [--mode bm25|bm25f|bool|expr|phrase|near|suggest|complete|mlt|explain] \\
        [--k 10] \\
        [--title-index <root> --title-weight 3.0] \\
        [--filter-expr "scan AND NOT slow"] [--near-k 4] [--ordered] \\
        [--max-dist 2] [--positional <pos_root>] \\
        [--after "<score>:<doc_id>"] [--synonyms '{"fast":["quick"]}'] \\
        [--stopwords the,a,of] [--fold-accents] [--stem light] \\
        [--facet lang --facet source --facet-table <parquet>]

--index points at a SegmentIndex root (has _meta.json; queried via
block-max WAND), a boolean Index snapshot (postings/ + documents/;
bm25 runs the Catalyst path with optional --filter-expr candidate
filtering, bool runs AND-with-wildcards, expr runs the full boolean
language incl. word~d fuzzy terms, mlt ranks by similarity to the
--query TEXT — query-by-example), or a PositionalSegmentIndex save
(has _pos_meta.json; --mode phrase runs exact-phrase search, --mode
near runs NEAR/k proximity — both batched into ONE job when --query
repeats).
Prints one JSON line per query with results and latency. Accepts
multiple --query flags; repeated queries amortize the index open (the
serving pattern).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True,
                    help="repeatable")
    ap.add_argument("--mode", choices=("bm25", "bm25f", "bool", "expr",
                                       "phrase", "near", "suggest",
                                       "complete", "mlt", "explain"),
                    default="bm25",
                    help="expr = full boolean language (AND/OR/NOT, "
                         "parens, word~d fuzzy terms); near = proximity "
                         "over a positional index (--near-k window, "
                         "--ordered); suggest = did-you-mean dictionary "
                         "terms within edit distance --max-dist; "
                         "complete = prefix auto-complete ranked by df; "
                         "mlt = more-like-this (--query is the example "
                         "TEXT); explain = bm25 with per-(doc, term) "
                         "tf/df/idf/contribution breakdown rows")
    ap.add_argument("--exclude-doc", type=int, default=None,
                    help="mlt mode: drop this doc_id from the results "
                         "(the source document of the example text)")
    ap.add_argument("--mlt-min-df", type=int, default=2,
                    help="mlt mode: skip example terms rarer than this")
    ap.add_argument("--mlt-max-df-ratio", type=float, default=0.25,
                    help="mlt mode: skip example terms in more than "
                         "this fraction of the corpus (stopword guard)")
    ap.add_argument("--max-dist", type=int, default=2,
                    help="suggest mode: max Levenshtein distance")
    ap.add_argument("--positional", default=None,
                    help="expr mode: PositionalSegmentIndex root to "
                         "resolve double-quoted phrase nodes")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--filter-expr", default=None,
                    help="bm25 mode: boolean-language candidate filter")
    ap.add_argument("--near-k", type=int, default=3,
                    help="near mode: window size in token positions")
    ap.add_argument("--ordered", action="store_true",
                    help="near mode: terms must appear in query order")
    ap.add_argument("--after", default=None,
                    help="bm25 keyset-pagination cursor 'score:doc_id' "
                         "(the previous page's last row, raw score)")
    ap.add_argument("--shard-plan", action="store_true",
                    help="bm25 on a segments index: append the rare-term "
                         "shard-pruning decision (terms+df, candidate "
                         "shards, pruned fraction) to each result")
    ap.add_argument("--synonyms", default=None,
                    help="JSON dict term->[synonyms]; each term in an "
                         "expr query expands to an OR (expr mode only: "
                         "the expansion emits boolean-language text)")
    ap.add_argument("--stopwords", default=None,
                    help="comma-separated stopwords dropped from the "
                         "query by the analyzer chain (use against an "
                         "index built over normalize_docs output)")
    ap.add_argument("--fold-accents", action="store_true",
                    help="analyzer chain: strip accents from query terms")
    ap.add_argument("--stem", choices=("light",), default=None,
                    help="analyzer chain: S-stemmer on query terms")
    ap.add_argument("--facet", action="append", default=None,
                    help="facet column over the result set (repeatable; "
                         "expr mode only, needs --facet-table)")
    ap.add_argument("--facet-table", default=None,
                    help="parquet with doc_id + the --facet columns")
    ap.add_argument("--title-index", default=None,
                    help="bm25f mode: Index snapshot of the TITLE field "
                         "(--index is the body field)")
    ap.add_argument("--title-weight", type=float, default=3.0,
                    help="bm25f mode: title field weight (body = 1.0)")
    args = ap.parse_args(argv)
    if args.mode == "bm25f" and not args.title_index:
        raise SystemExit("--mode bm25f needs --title-index")
    if args.title_index and args.mode != "bm25f":
        raise SystemExit("--title-index applies to --mode bm25f only")
    if args.after and args.mode != "bm25":
        raise SystemExit("--after applies to --mode bm25 only")
    if args.after and len(args.query) > 1:
        # a cursor belongs to ONE query's ranking; silently filtering
        # other queries by it would drop their top hits
        raise SystemExit("--after takes exactly one --query")
    if args.synonyms and args.mode != "expr":
        # the expansion emits boolean-language text; search_bool would
        # AND the literal tokens '(fast' / 'OR' / 'quick)'
        raise SystemExit("--synonyms applies to --mode expr only")
    if args.facet and args.mode != "expr":
        # facet_counts evaluates boolean-LANGUAGE semantics; they must
        # match the semantics that produced the result rows
        raise SystemExit("--facet applies to --mode expr only")
    if bool(args.facet) != bool(args.facet_table):
        raise SystemExit("--facet and --facet-table go together")
    if args.shard_plan and args.mode != "bm25":
        raise SystemExit("--shard-plan applies to --mode bm25 only")
    if args.filter_expr and args.mode != "bm25":
        raise SystemExit("--filter-expr applies to --mode bm25 only "
                         "(fold the filter into the expression for "
                         "--mode expr)")
    if args.exclude_doc is not None and args.mode != "mlt":
        raise SystemExit("--exclude-doc applies to --mode mlt only")
    if args.mode == "mlt" and (args.stopwords or args.fold_accents
                               or args.stem):
        # the analyzer rewrite parses boolean grammar; an mlt example is
        # arbitrary document text (normalize it upstream if the index
        # was built from analyzer-normalized documents)
        raise SystemExit("analyzer flags do not apply to --mode mlt")
    if args.mode in ("phrase", "near") and (args.stopwords
                                            or args.fold_accents
                                            or args.stem):
        # the positional tier matches stored token sequences exactly;
        # silently ignoring the flags would search unnormalized tokens
        # against a normalized index and return 0 hits with no clue
        raise SystemExit("analyzer flags do not apply to --mode "
                         "phrase/near (normalize the query text "
                         "upstream to match the indexed form)")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("textindexing-query").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from textindexing_spark import Index
    from textindexing_spark.operators.bm25 import SegmentIndex
    # index-kind probes go through the Hadoop FileSystem API so a root
    # on hdfs:// or s3a:// dispatches correctly (a driver-local
    # os.path.exists is always False for remote schemes and would
    # mis-route a segments index into Index.load)
    from textindexing_spark.plans.manifest import fs_exists

    if args.mode in ("phrase", "near") or fs_exists(
            spark, f"{args.index}/_pos_meta.json"):
        from textindexing_spark.operators.phrase import (
            PositionalSegmentIndex)

        if args.mode not in ("phrase", "near"):
            raise SystemExit(
                "a positional index answers --mode phrase/near")
        if not fs_exists(spark, f"{args.index}/_pos_meta.json"):
            raise SystemExit(
                f"--mode {args.mode} needs a PositionalSegmentIndex save "
                "(_pos_meta.json) — this index root is not positional")
        pidx = PositionalSegmentIndex.load(spark, args.index).cache()
        t0 = time.perf_counter()
        if args.mode == "phrase":
            hits = pidx.search_phrase_many(args.query).collect()
        else:
            hits = pidx.search_near_many(
                [(q, args.near_k, args.ordered)
                 for q in args.query]).collect()
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)
        by_q: dict[int, list[int]] = {}
        for r in hits:
            by_q.setdefault(r["query_id"], []).append(r["doc_id"])
        for qid, q in enumerate(args.query):
            rows = sorted(by_q.get(qid, []))
            print(json.dumps({
                "query": q, "mode": args.mode, "index_kind": "positional",
                "n_results": len(rows), "results": rows[:args.k],
                "batch_wall_ms": wall_ms,
            }))
        spark.stop()
        return

    if fs_exists(spark, f"{args.index}/_meta.json"):
        # serving layout: in-memory cogroup sides, 8 tasks per query
        idx = (SegmentIndex.load(spark, args.index)
               .prepare_for_queries(query_groups=8))
        kind = "segments"
        if args.mode in ("bool", "expr", "suggest", "complete", "bm25f",
                         "mlt", "explain"):
            raise SystemExit(f"{args.mode} queries need an Index snapshot "
                             "(postings/ + documents/), not segments")
        if args.filter_expr:
            raise SystemExit("--filter-expr needs an Index snapshot "
                             "(Catalyst bm25 path), not segments")
    else:
        idx = Index.load(spark, args.index).cache()
        if args.mode != "bool":  # expr/bm25 serving: prefetch the dict
            idx = idx.prepare_for_queries()
        if args.positional:
            from textindexing_spark.operators.phrase import (
                PositionalSegmentIndex)

            idx.attach_positional(
                PositionalSegmentIndex.load(spark, args.positional).cache())
        kind = "postings"
        if args.shard_plan:
            raise SystemExit("--shard-plan needs a segments index "
                             "(shard pruning is a segment-tier concept)")

    after = None
    if args.after:
        s, _, d = args.after.partition(":")
        after = (float(s), int(d))
    synonyms = json.loads(args.synonyms) if args.synonyms else None
    analyzer_kw = None
    if args.stopwords or args.fold_accents or args.stem:
        analyzer_kw = dict(
            stopwords=tuple(w.strip() for w in
                            (args.stopwords or "").split(",")
                            if w.strip()),
            accents=args.fold_accents, stem=args.stem)
    meta = (spark.read.parquet(args.facet_table)
            if args.facet_table else None)
    if args.mode == "bm25f":
        from textindexing_spark.operators.fields import bm25f_corpus_stats

        # load the title field and the merged corpus stats ONCE;
        # repeated --query amortizes both
        bm25f_fields = {
            "title": (Index.load(spark, args.title_index).cache(),
                      args.title_weight),
            "body": (idx, 1.0)}
        bm25f_stats = bm25f_corpus_stats(bm25f_fields)

    filter_expr = args.filter_expr
    if analyzer_kw is not None and filter_expr:
        # the filter queries the same normalized index — an unrewritten
        # filter term ("ponies") would never match stored terms ("pony")
        from textindexing_spark.functions.analyze import normalize_query

        filter_expr = normalize_query(filter_expr, **analyzer_kw)

    for q in args.query:
        executed = q
        if analyzer_kw is not None:
            from textindexing_spark.functions.analyze import normalize_query

            executed = normalize_query(executed, **analyzer_kw)
        if synonyms:  # expr mode (validated above)
            from textindexing_spark.operators.query import expand_synonyms

            executed = expand_synonyms(executed, synonyms)
        raw_last = None
        t0 = time.perf_counter()
        if args.mode == "bm25f":
            from textindexing_spark.operators.fields import search_bm25f

            rows = [(r["doc_id"], round(r["score"], 4)) for r in
                    search_bm25f(bm25f_fields, executed, args.k,
                                 corpus_stats=bm25f_stats).collect()]
        elif args.mode == "bm25":
            if kind == "postings" and filter_expr:
                res = idx.search_bm25(executed, args.k,
                                      filter_expr=filter_expr,
                                      after=after)
            else:
                res = idx.search_bm25(executed, args.k, after=after)
            collected = res.collect()
            if collected:
                raw_last = collected[-1]
            rows = [(r["doc_id"], round(r["score"], 4))
                    for r in collected]
        elif args.mode == "expr":
            if meta is not None:
                # persist the hit SET so results + facets cost one
                # query evaluation, not two
                hits = idx._expr_docs(executed)
                hits = hits.persist() if hits is not None else None
                rows = sorted(r["doc_id"] for r in hits.collect()) \
                    if hits is not None else []
            else:
                rows = [r["doc_id"]
                        for r in idx.search_expr(executed).collect()]
        elif args.mode == "suggest":
            rows = [(r["term"], int(r["df"]), int(r["dist"])) for r in
                    idx.suggest(executed, args.k, args.max_dist).collect()]
        elif args.mode == "complete":
            rows = [(r["term"], int(r["df"])) for r in
                    idx.complete(executed, args.k).collect()]
        elif args.mode == "mlt":
            rows = [(r["doc_id"], round(r["score"], 4)) for r in
                    idx.more_like_this(
                        executed, args.k,
                        min_df=args.mlt_min_df,
                        max_df_ratio=args.mlt_max_df_ratio,
                        exclude_doc_id=args.exclude_doc).collect()]
        elif args.mode == "explain":
            rows = [(r["doc_id"], round(r["score"], 4), r["term"],
                     int(r["tf"]), int(r["df"]), int(r["doc_len"]),
                     round(r["idf"], 4), round(r["contribution"], 4))
                    for r in idx.explain_bm25(executed, args.k).collect()]
        else:
            rows = [r["doc_id"]
                    for r in idx.search_bool(executed).collect()]
        out = {
            "query": q, "mode": args.mode, "index_kind": kind,
            "n_results": len(rows),
            # explain emits one row per (doc, matched term) — its k cap
            # is on DOCS (inside explain_bm25), not output rows
            "results": rows if args.mode == "explain" else rows[:args.k],
            "latency_ms": round((time.perf_counter() - t0) * 1000, 1),
        }
        if executed != q:
            out["executed_query"] = executed
        if args.shard_plan:
            out["shard_plan"] = idx.explain_shards(executed)
        if raw_last is not None:
            # scores above are rounded for display; pagination needs the
            # RAW double — repr() round-trips it exactly
            out["next_after"] = (f'{raw_last["score"]!r}:'
                                 f'{raw_last["doc_id"]}')
        if meta is not None:
            # hits None = empty query = empty result set: no buckets
            # (facet_counts(None, hits=None) would facet the CORPUS)
            out["facets"] = [] if hits is None else [
                (r["facet"], r["value"], int(r["n_docs"]))
                for r in idx.facet_counts(None, meta, by=args.facet,
                                          k=args.k,
                                          hits=hits).collect()]
            if hits is not None:
                hits.unpersist()
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
