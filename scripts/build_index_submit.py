#!/usr/bin/env python
"""Cluster entry point: build (or resume) the inverted index over a pages
table, run via spark-submit (north-rule launch mode):

    ZIP=$(python -c "from textindexing_spark._pkg import package_zip; \\
                     print(package_zip())")
    spark-submit --master <cluster> \\
        --py-files "$ZIP" \\
        scripts/build_index_submit.py \\
        --input  <pages parquet/iceberg path> \\
        --output <index root> [--resume] [--shards 64]

    # or index a raw directory of files (the reference's primary workflow):
    ... build_index_submit.py --input /corpus --input-format files \\
        --glob '*.txt' [--encoding cp1251] --output <index root>

On a real cluster --master is yarn/k8s and --input an Iceberg table; the
job itself is identical. Stages materialize under --output with
per-partition lineage manifests (plans/manifest.py), so a rerun with
--resume skips every committed stage whose input fingerprint matches
(checkpoint-resumable per the north rule).

Input shape (BASELINE.json input_hint):
    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
          lang STRING)
Rows whose text is null but html is not are extracted on the fly
(functions/extract.py, byte-identical contract). Re-crawled urls collapse
last-wins by warc_ts before indexing.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "files"],
                    help="'parquet' = a pages table; 'files' = a raw "
                         "directory of documents (sources/files.py)")
    ap.add_argument("--glob", default="*",
                    help="file glob for --input-format files")
    ap.add_argument("--encoding", default="utf-8",
                    help="default file encoding for --input-format files "
                         "(BOMs always win)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip stages with committed matching manifests")
    ap.add_argument("--shards", type=int, default=64,
                    help="document shards for the compressed BM25 segments")
    ap.add_argument("--stats", action="store_true",
                    help="append index_stats (per-shard telemetry rollup: "
                         "postings/bytes/compression/skew) to the summary")
    ap.add_argument("--skip-segments", action="store_true",
                    help="stop after the boolean index (postings+documents)")
    ap.add_argument("--stopwords", default=None,
                    help="comma-separated stopwords: index through the "
                         "analyzer chain (query with the same flags on "
                         "the query CLI)")
    ap.add_argument("--fold-accents", action="store_true",
                    help="analyzer chain: strip accents before indexing")
    ap.add_argument("--stem", choices=("light",), default=None,
                    help="analyzer chain: S-stemmer before indexing")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("textindexing-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # --py-files shipped the engine zip; import AFTER session start so the
    # zip is already on sys.path when running under a cluster master.
    from textindexing_spark import IndexConfig
    from textindexing_spark.functions.extract import extract_text_column
    from textindexing_spark.operators.bm25 import build_segments
    from textindexing_spark.operators.build import (
        document_lengths, postings_from_tokens, tokenize_documents)
    from textindexing_spark.plans.manifest import StagePipeline
    from textindexing_spark.sources.urlids import UrlIdTable
    from textindexing_spark.streaming.ingest import dedup_last_wins

    cfg = IndexConfig()
    t0 = time.perf_counter()
    if args.input_format == "files":
        # a real directory of documents (the reference's primary
        # workflow): engine-glob pruned, BOM-aware decode
        from textindexing_spark.sources.files import (list_directory,
                                                      read_directory)

        pages = read_directory(spark, args.input, args.glob,
                               default_encoding=args.encoding)
        # fingerprint from the LISTING only (url, mtime, byte length) —
        # content-column pruning means no file body is read or decoded
        # for the digest; the pipeline stages read the corpus once
        fp_src = (list_directory(spark, args.input, args.glob)
                  .select(F.xxhash64("url", "warc_ts", "n_bytes")
                          .alias("h")))
    else:
        pages = spark.read.parquet(args.input)
        fp_src = pages.select(F.xxhash64(
            "url", "warc_ts",
            F.coalesce(F.length("text"), F.lit(-1)),
            F.coalesce(F.length("html"), F.lit(-1))).alias("h"))

    # input fingerprint: content-sensitive digest — per-row hash folded
    # with THREE order-independent, map-side-combinable aggregates:
    # count, bit_xor, and sum. xor alone self-cancels duplicate row
    # PAIRS (h ^ h = 0), so swapping one duplicated pair for a different
    # duplicated pair would keep count+xor unchanged; the sum is
    # duplicate-sensitive (2h != 2g) and closes that collision. Sum runs
    # over decimal(38,0) so it cannot overflow under ANSI mode at any
    # realistic row count (~1e19 rows).
    fp_row = (fp_src
              .agg(F.count("*").alias("n"),
                   F.expr("bit_xor(h)").alias("x"),
                   F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
              .collect()[0])
    analyzer_kw = None
    if args.stopwords or args.fold_accents or args.stem:
        analyzer_kw = dict(
            stopwords=tuple(sorted(
                w.strip() for w in (args.stopwords or "").split(",")
                if w.strip())),
            accents=args.fold_accents, stem=args.stem)
    fingerprint = f"{args.input}:{fp_row['n']}:{fp_row['x']}:{fp_row['s']}"
    if analyzer_kw is not None:
        # different analyzer settings produce a different index: a
        # --resume must not reuse stages built under other settings
        fingerprint += f":analyze={sorted(analyzer_kw.items())}"
    # the ACTIVE fingerprint persists beside the index: a default
    # (no --resume) run stamps a unique nonce so it never reuses stale
    # stages, and a later --resume of a CRASHED default run must reuse
    # that exact nonce'd fingerprint — recomputing the bare fingerprint
    # would match nothing and silently rebuild every committed stage
    from textindexing_spark.plans.manifest import (fs_exists,
                                                   fs_read_text,
                                                   fs_write_text)

    fp_file = f"{args.output}/_fingerprint"
    if args.resume and fs_exists(spark, fp_file):
        saved = fs_read_text(spark, fp_file).strip()
        # reuse only if the saved run covered the SAME input+analyzer:
        # the bare fingerprint or it plus a nonce, never a longer one
        # (a plain fingerprint is a prefix of its analyzer variants)
        run_fp = (saved if re.fullmatch(re.escape(fingerprint)
                                        + r"(:\d+)?", saved)
                  else fingerprint)
    elif args.resume:
        run_fp = fingerprint
    else:
        run_fp = f"{fingerprint}:{time.time_ns()}"
    fs_write_text(spark, fp_file, run_fp)
    pipe = StagePipeline(spark, args.output, run_fp)

    url_ids = UrlIdTable(spark, f"{args.output}/_urlmap")

    def stage_docs(spark_, pages_df):
        current = dedup_last_wins(pages_df)
        texted = extract_text_column(current)
        # dense collision-free doc ids (persisted dimension — a url keeps
        # its id across incremental builds)
        out = (url_ids.assign(texted)
               .select("doc_id", "url",
                       F.coalesce("text", F.lit("")).alias("text")))
        if analyzer_kw is not None:
            from textindexing_spark.functions.analyze import normalize_docs

            out = normalize_docs(out, **analyzer_kw)
        return out

    docs = pipe.stage("docs", stage_docs, pages)

    def stage_tokens(spark_, docs_df):
        return tokenize_documents(docs_df, cfg)

    tokens = pipe.stage("tokens", stage_tokens, docs)

    postings = pipe.stage(
        "postings", lambda s, t: postings_from_tokens(t, cfg), tokens)
    documents = pipe.stage(
        "documents", lambda s, t: document_lengths(t), tokens)

    n_docs = documents.count()
    n_terms = postings.count()

    index_stats = None
    if not args.skip_segments:
        seg = build_segments(spark, tokens, cfg, n_shards=args.shards)
        seg.save(f"{args.output}/segments_root")
        if args.stats:
            index_stats = seg.stats_summary()

    elapsed = time.perf_counter() - t0
    out = {
        "input": args.input,
        "output": args.output,
        "n_docs": n_docs,
        "n_terms": n_terms,
        "stages_executed": pipe.executed,
        "stages_skipped": pipe.skipped,
        "wall_s": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1) if elapsed else None,
    }
    if index_stats is not None:
        out["index_stats"] = index_stats
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
