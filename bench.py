#!/usr/bin/env python
"""Headline benchmark: index build throughput + query latencies at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (the LAST stdout line, <= ~2 KB so a
tail-capture parser always gets the whole object):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "extras": {"build_docs_per_sec": ..., "bm25_p50_ms": ...}}
and writes the FULL payload (per-row mins, every raw sample, recall and
plan-audit extras) to bench_runs/last_full.json — round 4's inline
samples overflowed the driver's tail capture and the official bench
signal was lost (VERDICT r4, What's wrong #1).

Measurement contract (round 5): EVERY row runs ONE untimed warm-up
execution, then repeat>=3 timed repetitions; "queries" reports the
per-row MEDIAN, the full file adds per-row minimum and every raw wall
time, so any published number is reproducible from recorded data. The
warm-up absorbs first-call JIT/codegen/python-worker spin-up that the
driver's cold 3-sample protocol otherwise reports as a monotone
warm-in decay (r4 driver run: bm25_queries 44.4 -> 12.6 -> 4.6 s).
This VM also shows hypervisor-steal waves that can 10x one sample
(35% cumulative steal in /proc/stat; bench_runs/r4_steal_correlation.json
records one fixed bm25 loop measuring 2.6-11.9 s), so a single sample
— or a best-of-2 — is not evidence.

Scaling evidence (N vs 4N cores) is produced by bench_scaling.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def make_spark(cpus: str):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("textindexing-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # cap JVM background thread pools — at local[32] the default GC/
        # compiler thread counts oversubscribe the box (see BENCH.md)
        .config("spark.driver.extraJavaOptions",
                "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 "
                "-XX:CICompilerCount=4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/tix-spark")
    return builder.getOrCreate()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from textindexing_spark import IndexConfig, build_index
    from textindexing_spark.operators.dedup import (
        lsh_candidate_pairs, near_duplicates, simhash, simhash64,
        simhash_pairs)
    from textindexing_spark.operators.similarity import cosine_topk, lsh_topk
    from textindexing_spark.functions.analysis import quality_score

    # the sf tables are single parquet files = single scan tasks; spread
    # them so per-row work (tokenize, shingle, hash) parallelizes — at
    # production scale the input arrives in thousands of files and this
    # repartition is the file count
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(int(cpus)).cache())
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .repartition(int(cpus)).cache())
    n_docs = docs.count()
    emb.count()

    # warmup outside the timings: JIT/codegen/python-worker spin-up —
    # including the dedup/ANN paths, whose generated code (8 md5 lambda
    # transforms + banding) costs seconds to compile on first call
    warm = build_index(spark, docs.limit(200), IndexConfig())
    warm.search_bm25("data fast", 3).collect()
    warm.unpersist()
    lsh_candidate_pairs(docs.limit(50)).count()
    near_duplicates(docs.limit(50)).count()
    simhash(docs.limit(50)).count()
    simhash64(docs.limit(50)).count()
    cosine_topk(emb.limit(50), 0, 3).collect()
    lsh_topk(emb.limit(50), 0, 3).collect()
    from textindexing_spark.functions.quality import (
        pii_scan as _pii, repetition_signals as _reps)
    _reps(docs.limit(50)).count()
    _pii(docs.limit(50)).count()

    timings: dict[str, float] = {}   # medians — the headline per row
    mins: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    extra_counts: dict[str, int] = {}  # result-size sanity, full file only

    def timed(name: str, fn, repeat: int = repeat, warmup: bool = True):
        # one untimed warm-up + median-of-N with every raw sample
        # recorded (see module docstring) — the warm-up absorbs
        # first-call JIT/codegen, steal waves make singles meaningless
        out = None
        if warmup:
            out = fn()
        raw: list[float] = []
        for _ in range(max(repeat, 1)):
            t0 = time.perf_counter()
            out = fn()
            raw.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(raw), 4)
        mins[name] = round(min(raw), 4)
        samples[name] = [round(x, 4) for x in raw]
        return out

    # q1: full index build (tokenize -> salted shuffle -> postings),
    # materialized end-to-end; each repetition builds + caches a fresh
    # index and unpersists the previous one, the last survives for the
    # query rows below
    held: dict = {}

    def build_full():
        if "idx" in held:
            held["idx"].unpersist()
        ix = build_index(spark, docs, IndexConfig())
        ix.cache()
        ix.postings.count()
        ix.documents.count()
        held["idx"] = ix
        return ix

    idx = timed("build_index", build_full)

    # q2: boolean AND + wildcard query latencies over the fixture query
    # set, in SERVING mode: the dictionary (term, df) prefetch means the
    # rarest-first pre-pass never launches a per-query Spark job (round
    # 3 paid one df job per cold query — bool_queries tripled; the WAND
    # tier already prefetched, operators/bm25.py)
    idx.prepare_for_queries()
    with open(f"{REPO}/fixtures/queries.json") as fh:
        qset = json.load(fh)

    def run_bool():
        for q in qset:
            if q["mode"] == "bool_and":
                idx.search_bool(q["query_text"]).collect()
    timed("bool_queries", run_bool)

    # batched boolean: the whole set in ONE job (shared In-filter scan +
    # one aggregation) — the throughput-serving mode
    bool_texts = [q["query_text"] for q in qset if q["mode"] == "bool_and"]
    timed("bool_batch",
          lambda: idx.search_bool_many(bool_texts).collect())

    # full boolean language (round 4): AND/OR/NOT + parens + wildcards,
    # compositional semi/anti-join plans over the prepared index
    expr_set = ["(hash OR mer*) AND NOT vector",
                "scan AND (fast OR slow) AND NOT (sort OR window)",
                "NOT (hash OR merge OR scan)",
                "quer* AND NOT join"]

    def run_exprs():
        for e in expr_set:
            idx.search_expr(e).collect()
    timed("expr_queries", run_exprs)

    # q2b: positional index + exact phrase search (operators/phrase.py);
    # the build is shuffle-free (no build-time repartition since round 4)
    from textindexing_spark.operators.phrase import PositionalIndex

    def build_pos():
        if "pidx" in held:
            held["pidx"].unpersist()
        p = PositionalIndex.build(spark, docs).cache()
        p.positional.count()
        held["pidx"] = p
        return p

    pidx = timed("positional_build", build_pos)

    def run_phrases():
        for ph in ("row scan", "the data table", "merge batch"):
            pidx.search_phrase(ph).collect()
    timed("phrase_queries", run_phrases)
    pidx.unpersist()

    # compressed tier: delta+varbyte positional segments, shard-parallel
    # eval; batched row = the whole phrase set in ONE job
    from textindexing_spark.operators.phrase import PositionalSegmentIndex

    def build_pseg():
        if "pseg" in held:
            held["pseg"].unpersist()
        s = PositionalSegmentIndex.build(spark, docs, n_shards=16).cache()
        s.segments.count()
        held["pseg"] = s
        return s

    pseg = timed("phrase_segment_build", build_pseg)
    timed("phrase_batch", lambda: pseg.search_phrase_many(
        ["row scan", "the data table", "merge batch"]).collect())
    # proximity serving (round 4): whole NEAR/k set in one job
    timed("near_batch", lambda: pseg.search_near_many(
        [("row scan", 3), ("hash merge", 4, True),
         ("fast slow", 6), ("the data table", 2, True)]).collect())
    pseg.unpersist()

    # q3: BM25 top-10 latency per query (p50 over the LAST repetition,
    # reported in extras)
    lat: list[float] = []

    def run_bm25():
        lat.clear()
        idx.corpus_stats()
        for q in qset:
            if q["mode"] == "bm25":
                t0 = time.perf_counter()
                idx.search_bm25(q["query_text"], q["k"]).collect()
                lat.append(time.perf_counter() - t0)
    timed("bm25_queries", run_bm25)

    # batched Catalyst BM25: the whole set in ONE job (shared In-filter
    # scan + one (query, doc) agg + per-query WindowGroupLimit top-k)
    bm25_texts = [q["query_text"] for q in qset if q["mode"] == "bm25"]
    timed("bm25_batch",
          lambda: idx.search_bm25_many(bm25_texts, 10).collect())

    # q4: SCALE path — fused one-shuffle compressed segment build
    # (the pipeline a 100 TB run uses; see operators/bm25.py) + WAND
    import shutil
    import tempfile

    from textindexing_spark.operators.bm25 import (
        SegmentIndex, build_segments_from_docs)

    seg_dir = tempfile.mkdtemp(prefix="tix_bench_seg_")

    def build_fused():
        s = build_segments_from_docs(spark, docs, IndexConfig(),
                                     n_shards=64)
        s.save(seg_dir)
        s.unpersist()
        return s

    timed("fused_segment_build", build_fused)
    # query-serving layout: cached cogroup sides coalesced to 8 tasks
    # per query (shard count stays build-sized; task count query-sized)
    seg = (SegmentIndex.load(spark, seg_dir)
           .prepare_for_queries(query_groups=8))

    wand_lat: list[float] = []

    def run_wand():
        wand_lat.clear()
        for q in qset:
            if q["mode"] == "bm25":
                t0 = time.perf_counter()
                seg.search_bm25(q["query_text"], q["k"]).collect()
                wand_lat.append(time.perf_counter() - t0)
    timed("wand_queries", run_wand)

    # batched WAND: the whole query set in ONE job (one cogroup pass per
    # shard + a single windowed top-k) — the throughput-serving mode
    wand_texts = [q["query_text"] for q in qset if q["mode"] == "bm25"]
    timed("wand_batch",
          lambda: seg.search_bm25_many(wand_texts, 10).collect())

    # scale-out reshard 64 -> 256: split every doc shard into 4 children
    # at the compressed-blob level (no re-tokenization; the doc->child
    # routing is the numpy murmur3 twin of Spark's HashPartitioning).
    # Work is proportional to compressed index size, not corpus text —
    # compare with fused_segment_build, which pays the tokenizer.
    reshard_held: dict = {}

    def reshard_grow():
        if "ix" in reshard_held:
            reshard_held["ix"].unpersist()
        grown = SegmentIndex.load(spark, seg_dir).reshard(256)
        n = grown.segments.count() + grown.shard_docs.count()
        reshard_held["ix"] = grown
        return n

    extra_counts["reshard_grow_rows"] = timed("reshard_grow", reshard_grow)
    if "ix" in reshard_held:
        reshard_held["ix"].unpersist()
    seg.unpersist()
    shutil.rmtree(seg_dir, ignore_errors=True)

    # q5: head-term skew salting (SURVEY 7.4: Zipfian synthetic) — same
    # Zipf corpus built with the salted two-phase aggregation (every
    # head term splits across ceil(df/bucket) reducers) and unsalted.
    # At this corpus size the salted path PAYS its df pre-pass + second
    # shuffle without a payoff (head lists are only ~20k postings); the
    # row exists to show that overhead is bounded (~2-3x, not
    # catastrophic) — the payoff case is a reducer that would otherwise
    # materialize a GB-scale stopword list alone, which no laptop-scale
    # corpus can exhibit. Correct-by-construction is the gate:
    # tests/test_index.py asserts salted == unsalted results.
    from textindexing_spark.sources.pages import generate_pages

    zipf = (generate_pages(spark, n_docs=20_000, vocab_size=5000,
                           recrawl_fraction=0.0)
            .selectExpr("xxhash64(url) AS doc_id", "text")
            .repartition(int(cpus)).cache())
    zipf.count()
    salted_cfg = IndexConfig(salt_df_threshold=1_000,
                             salt_target_bucket=500)

    def build_and_count(cfg_, keep: bool = False):
        # cache-then-count: a bare postings.count() lets Catalyst PRUNE
        # the sort_array(collect_list(...)) column and count term groups
        # without ever building the arrays — rounds 1-2 under-measured
        # these rows that way (0.8-1.4 s); the cache forces full
        # materialization, which is what a real build pays.
        # unpersist any previous repetition's index BEFORE building:
        # Spark's cache manager keys on the logical plan, so an identical
        # still-cached plan would make the rebuild a cache hit
        if "zix" in held:
            held.pop("zix").unpersist()
        ix = build_index(spark, zipf, cfg_)
        ix.postings = ix.postings.cache()
        n = ix.postings.count()
        if keep:
            held["zix"] = ix
        else:
            ix.unpersist()
        return n

    timed("zipf_build_salted", lambda: build_and_count(salted_cfg))
    timed("zipf_build_unsalted",
          lambda: build_and_count(IndexConfig(salt_df_threshold=0),
                                  keep=True))
    # zipf stays cached through q5c (the shard-pruning rows reuse it)

    # q5b: rarest-first boolean pruning on the SAME Zipf corpus — the
    # `stopword AND rare` shape. Pruned: the rare term's doc set is
    # broadcast-semi-joined into the head term's scan, so the
    # intersection agg shuffles O(df_rare) rows; unpruned
    # (bool_seed_broadcast_max=0): the head term's FULL postings shuffle.
    from textindexing_spark.operators.query import Index as _Index

    zidx = held["zix"]
    head = (zidx.postings.orderBy(F.col("df").desc())
            .select("term", "df").first())
    rare = (zidx.postings.where(F.col("df") >= 2)
            .orderBy("df", "term").select("term", "df").first())
    zq = f"{head['term']} {rare['term']}"
    timed("bool_zipf_pruned", lambda: zidx.search_bool(zq).collect())
    unpruned_idx = _Index(spark, zidx.postings, zidx.documents,
                          IndexConfig(salt_df_threshold=0,
                                      bool_seed_broadcast_max=0))
    timed("bool_zipf_unpruned",
          lambda: unpruned_idx.search_bool(zq).collect())
    n_hits = zidx.search_bool(zq).count()
    # agg-input (shuffled) rows: pruned = df_rare + |intersection|;
    # unpruned = df_head + df_rare
    bool_rows = {"bool_zipf_agg_rows_pruned": int(rare["df"] + n_hits),
                 "bool_zipf_agg_rows_unpruned": int(head["df"] + rare["df"])}
    zidx.unpersist()

    # q5c: rare-term SHARD PRUNING (round 5) — the needle-lookup shape
    # (a unique ID/URL-like token, common in web corpora). Neither the
    # driver sf corpus (31 head terms, every term in every shard) nor
    # the Zipf generator (df floor ~90: even tail terms span 47+ of 64
    # shards) carries a genuinely rare term, so ONE needle doc is added
    # for this index only: its term lives in exactly one shard, the
    # query's pushed In(shard) prunes both parquet scans and the
    # docs-side shuffle to that shard, vs the identical query with the
    # membership summary withheld (full 64-shard fan-out). Cold
    # parquet-backed index = the one-shot / first-query shape.
    import copy as _copy
    zseg_dir = tempfile.mkdtemp(prefix="tix_bench_zseg_")
    znd = zipf.unionByName(spark.createDataFrame(
        [(424242, "zzneedle unique lookup token")],
        "doc_id bigint, text string"))
    _zs = build_segments_from_docs(spark, znd, IndexConfig(),
                                   n_shards=64)
    _zs.save(zseg_dir)
    _zs.unpersist()
    zseg = SegmentIndex.load(spark, zseg_dir)
    zseg._term_dfs(["zzneedle"])  # stats lookup outside the timing
    timed("wand_rare_pruned",
          lambda: zseg.search_bm25("zzneedle", 10).collect())
    zseg_np = _copy.copy(zseg)
    zseg_np._shard_cache = {}
    timed("wand_rare_unpruned",
          lambda: zseg_np.search_bm25("zzneedle", 10).collect())
    prune_rows = {
        "rare_term_shards": len(zseg._shard_cache.get("zzneedle") or []),
        "rare_term_df": int(zseg._df_cache["zzneedle"])}
    shutil.rmtree(zseg_dir, ignore_errors=True)
    zipf.unpersist()

    # q6+: training-pipeline operators
    timed("dedup_lsh_candidates",
          lambda: lsh_candidate_pairs(docs).count())
    # composed near-dup operator (LSH candidates -> exact Jaccard on the
    # candidates ONLY); the standalone shingle self-join is demoted to a
    # recall-audit verifier and is no longer a headline query
    timed("dedup_near_duplicates",
          lambda: near_duplicates(docs, threshold=0.5).count())
    timed("dedup_simhash", lambda: simhash(docs).count())
    timed("dedup_simhash64", lambda: simhash64(docs).count())
    # 64-bit banded pairs — the production fingerprint width; the pair
    # count is the sanity signal (16-bit banding has only 16 band keys
    # and degenerates to all-pairs as the corpus grows: 37k pairs from
    # 500 docs at sf0.01, r4 VERDICT What's wrong #3)
    extra_counts["simhash64_pairs"] = timed(
        "dedup_simhash64_pairs",
        lambda: simhash_pairs(docs, max_hamming=3, bits=64).count())
    timed("ann_cosine_topk", lambda: cosine_topk(emb, 0, 10).collect())
    timed("ann_lsh_topk", lambda: lsh_topk(emb, 0, 10).collect())
    timed("quality_score", lambda: quality_score(docs).count())

    # round-4 curation/serving rows
    from textindexing_spark.functions.quality import (
        pii_scan, repetition_signals)
    from textindexing_spark.operators.dedup import duplicate_clusters

    timed("quality_signals", lambda: repetition_signals(docs).count())
    timed("pii_scan", lambda: pii_scan(docs).count())
    # composed: LSH candidates -> exact-Jaccard verify -> connected
    # components (the full group-wise dedup pipeline end to end)
    timed("dedup_clusters", lambda: duplicate_clusters(
        near_duplicates(docs, threshold=0.5)).count())
    timed("spell_suggest", lambda: idx.suggest("tabl").collect())
    # exact-substring dedup: corpus-wide repeated 8-gram span detection
    from textindexing_spark.operators.dedup import repeated_spans
    timed("repeated_spans", lambda: repeated_spans(docs, k=8).count())
    # mixture building: plan agg + broadcast-rate hash sampling
    from textindexing_spark.functions.sampling import mixture_sample
    _shares = {f"src{i}": 1.0 for i in range(8)}
    timed("mixture_sample", lambda: mixture_sample(
        docs, _shares, 100_000).count())
    # context-window chunking (pure Catalyst) + FFD sequence packing
    # (one shuffle, bucket-parallel applyInPandas)
    from textindexing_spark.functions.sampling import (chunk_tokens,
                                                       pack_sequences)
    timed("chunk_pack", lambda: pack_sequences(
        chunk_tokens(docs, 128, overlap=16), 1024, n_buckets=16).count())
    # fuzzy terms: expansion resolves driver-side against the prepared
    # dictionary snapshot — each query is one pruned-scan set plan
    timed("fuzzy_queries", lambda: [
        idx.search_expr(e).collect()
        for e in ("merg~1", "tabel~1 AND scan", "indx~2 OR quer~2")])
    # more-like-this: term selection driver-side, ONE scoring job each
    _mlt_rows = docs.orderBy("doc_id").limit(3).collect()
    timed("mlt_queries", lambda: [
        idx.more_like_this(r["text"], 10,
                           exclude_doc_id=r["doc_id"]).collect()
        for r in _mlt_rows])
    # facets over a boolean-language result set: hit-set semi-join +
    # one stack/hash-agg pass counting BOTH facet columns
    timed("facet_counts", lambda: idx.facet_counts(
        "data AND NOT index", docs, by=["lang", "source"], k=5).collect())
    # analyzer chain: stopword+accent+stem rewrite of every document
    # (one Arrow projection, no shuffle)
    from textindexing_spark.functions.analyze import normalize_docs
    timed("normalize_docs", lambda: normalize_docs(
        docs, stopwords=("the", "a", "an", "of", "to"), accents=True,
        stem="light").count())
    # BM25F: title field = a short deterministic slice of the text (the
    # sf tables carry no html column; the field MERGE cost is what the
    # row measures and it is text-source-agnostic)
    from textindexing_spark.operators.fields import (
        bm25f_corpus_stats, search_bm25f)
    tix = held["tix"] = build_index(
        spark, docs.select("doc_id", F.substring("text", 1, 40)
                           .alias("text")), IndexConfig()).cache()
    tix.postings.count()
    tix.documents.count()  # materialize outside the timing, like every row
    bf = {"title": (tix, 3.0), "body": (idx, 1.0)}
    bf_stats = bm25f_corpus_stats(bf)  # serving session computes once
    timed("bm25f_queries", lambda: [
        search_bm25f(bf, q, 10, corpus_stats=bf_stats).collect()
        for q in ("data index", "merge fast", "scan row")])

    # ANN recall quality (measured once, not timed): seeded-k-means
    # codebooks/cells vs the deterministic data-vector ones, recall@10
    # against exact brute force — the round-4 trained-codebook gate
    from textindexing_spark.operators.similarity import (
        ivf_topk, pq_adc_topk, train_ivf_centroids, train_pq_codebooks)

    # 10 query ids: at 3 qids one hit moves recall by 0.033 and trained-
    # vs-untrained ordering is noise; at 10x10 the ordering is stable
    # (trained PQ ~0.18 vs untrained ~0.13 on the driver embeddings —
    # the ceiling is data-bound: the synthetic unit vectors carry no
    # cluster structure for the codebooks to exploit)
    recall_qids = [0, 7, 42, 77, 100, 150, 200, 300, 333, 400]
    # exact ground truth is variant-independent — compute it once per qid
    truth10 = {q: {r[0] for r in
                   cosine_topk(emb, q, 10).select("vec_id").collect()}
               for q in recall_qids}

    def recall_at10(variant):
        hits = 0
        for q in recall_qids:
            got = {r[0] for r in variant(q).select("vec_id").collect()}
            hits += len(truth10[q] & got)
        return round(hits / (10 * len(recall_qids)), 3)

    cents = train_ivf_centroids(emb, k=16, seed=7, iters=8)
    cents.cache().count()
    cb = train_pq_codebooks(emb, n_blocks=8, k=16, seed=7, iters=8)
    cb.cache().count()
    recall_rows = {
        "recall_ivf_trained_np1": recall_at10(
            lambda q: ivf_topk(emb, q, 10, nprobe=1, centroids=cents)),
        "recall_ivf_trained_np4": recall_at10(
            lambda q: ivf_topk(emb, q, 10, nprobe=4, centroids=cents)),
        "recall_pq_untrained": recall_at10(
            lambda q: pq_adc_topk(emb, q, 10)),
        "recall_pq_trained": recall_at10(
            lambda q: pq_adc_topk(emb, q, 10, codebook=cb)),
    }
    cents.unpersist()
    cb.unpersist()

    build_s = timings["build_index"]
    total = round(sum(timings.values()), 4)
    headline = {
        "metric": "index-build + query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extras": {
            "n_docs": n_docs,
            "repeat": repeat,
            "warmup": 1,
            "build_docs_per_sec": round(n_docs / build_s, 2) if build_s else None,
            "fused_build_docs_per_sec": round(
                n_docs / timings["fused_segment_build"], 2),
            "bm25_p50_ms": round(statistics.median(lat) * 1000, 2) if lat else None,
            "wand_p50_ms": round(statistics.median(wand_lat) * 1000, 2)
                           if wand_lat else None,
            "wand_batch_qps": round(
                len(wand_texts) / timings["wand_batch"], 2),
            "bm25_n_queries": len(lat),
            "cpus": cpus,
        },
    }
    # full payload (raw samples, mins, recall + plan-audit extras) goes
    # to a file — NOT stdout: the driver's tail capture must always see
    # the complete headline object as the last line
    full = dict(headline)
    full["extras"] = {**headline["extras"], **bool_rows, **recall_rows,
                      **extra_counts, **prune_rows}
    full["mins"] = mins
    full["samples"] = samples
    runs_dir = os.path.join(REPO, "bench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL",
                               os.path.join(runs_dir, "last_full.json"))
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) >= 4000:
        # never crash (or overflow a tail capture) after the whole suite
        # ran: shed detail until the driver-facing line is compact —
        # extras first, then round per-query timings down to 2 decimals
        headline.pop("extras", None)
        headline["queries"] = {k: round(v, 2)
                               for k, v in headline["queries"].items()}
        line = json.dumps(headline, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
