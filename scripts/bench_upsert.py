#!/usr/bin/env python
"""Per-batch incremental-merge cost vs corpus size.

The O(delta) claim (VERDICT round 1, item 1): a micro-batch merge into
the boolean index must cost the same whether the corpus holds N or 4N
documents. This bench builds a base corpus at two sizes, then times the
SAME fixed-size batch stream against each through the LSM delta path
(BucketedIndexStore.commit_merge, what StreamingIngestor commits), and
prints one JSON line with per-batch medians and the large/small ratio
(flat == ratio ~1.0).

Run:  python scripts/bench_upsert.py [--small 6000] [--factor 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _batches(rows, n_batches, batch_size, start):
    out = []
    for b in range(n_batches):
        s = start + b * batch_size
        out.append(rows[s:s + batch_size])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", type=int, default=6000)
    ap.add_argument("--factor", type=int, default=4)
    ap.add_argument("--batch-size", type=int, default=200)
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    tmp_root = "/dev/shm/tix_upsert_bench"
    shutil.rmtree(tmp_root, ignore_errors=True)
    os.makedirs(tmp_root)
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("bench-upsert")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.local.dir", f"{tmp_root}/spark_local")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.extraJavaOptions",
                     "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 "
                     "-XX:CICompilerCount=4")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from textindexing_spark.sources.bucketed import BucketedIndexStore
    from textindexing_spark.sources.pages import generate_pages_rows

    sizes = [args.small, args.small * args.factor]
    n_extra = args.batches * args.batch_size
    rows = generate_pages_rows(n_docs=max(sizes) + n_extra, seed=77,
                               recrawl_fraction=0.0, empty_fraction=0.0)
    docs_all = [(i, t) for i, (_, _, _, t, _) in enumerate(rows)]

    result = {"metric": "upsert_batch_median_sec", "unit": "sec",
              "batch_size": args.batch_size, "sizes": sizes, "paths": {}}

    per_size = {}
    for n in sizes:
        store = BucketedIndexStore(spark, f"{tmp_root}/delta_{n}")
        store.commit_merge(spark.createDataFrame(
            docs_all[:n], "doc_id bigint, text string"), mode="rewrite")
        times = []
        for batch_rows in _batches(docs_all, args.batches,
                                   args.batch_size, max(sizes)):
            batch = spark.createDataFrame(
                batch_rows, "doc_id bigint, text string")
            t0 = time.perf_counter()
            store.commit_merge(batch)
            times.append(time.perf_counter() - t0)
        per_size[str(n)] = round(statistics.median(times), 3)
    ratio = per_size[str(sizes[1])] / per_size[str(sizes[0])]
    result["paths"]["delta"] = {**per_size,
                                "ratio_4x_corpus": round(ratio, 3)}

    # url-id dimension: per-batch assign cost must stay FLAT as the
    # chunk stream grows (compaction folds chunks into a base every
    # compact_every commits, so mapping() never unions one path per
    # historical batch). Medians of the first vs last quarter of a
    # 48-batch stream + the final live path count.
    from textindexing_spark.sources.urlids import UrlIdTable

    t = UrlIdTable(spark, f"{tmp_root}/urlids")
    n_b, per = 48, 500
    times = []
    for b in range(n_b):
        batch = spark.createDataFrame(
            [(f"https://bench/{b:03d}/{i}",) for i in range(per)],
            "url string")
        t0 = time.perf_counter()
        t.assign(batch).count()
        times.append(time.perf_counter() - t0)
    q = n_b // 4
    early = statistics.median(times[:q])
    late = statistics.median(times[-q:])
    result["urlid_assign"] = {
        "batches": n_b, "urls_per_batch": per,
        "early_median_s": round(early, 3),
        "late_median_s": round(late, 3),
        "late_over_early": round(late / early, 3),
        "live_paths_final": len(t._live_paths()),
    }

    spark.stop()
    shutil.rmtree(tmp_root, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
