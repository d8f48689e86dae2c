#!/usr/bin/env python
"""Cluster entry point: re-shard a saved compressed BM25 segment index
(grow or shrink — SegmentIndex.reshard), run via spark-submit exactly
like the build CLI (``$ZIP`` is the path ``package_zip()`` prints):

    spark-submit --master <cluster> \\
        --py-files "$ZIP" \\
        scripts/reshard_index_submit.py \\
        --index <segments dir> --output <new segments dir> --shards 256

    # or just ask the telemetry-driven policy what it would do:
    ... reshard_index_submit.py --index <segments dir> --plan \\
        [--target-shard-mb 256]

The rewrite never re-tokenizes and never shuffles posting-granularity
rows (PLANS.md `SegmentIndex.reshard(n)` row); the index must carry
shard metadata (built by build_segments_from_docs / upsert — _meta.json
present), because reshard's routing contract is Spark's
HashPartitioning of doc_id.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True,
                    help="existing segment index dir (with _meta.json)")
    ap.add_argument("--output", default=None,
                    help="where to save the re-sharded index (required "
                         "unless --plan)")
    ap.add_argument("--shards", type=int, default=None,
                    help="new shard count: a multiple (grow) or divisor "
                         "(shrink) of the current count; default = the "
                         "policy recommendation")
    ap.add_argument("--plan", action="store_true",
                    help="print plan_reshard's recommendation and exit "
                         "without rewriting anything")
    ap.add_argument("--target-shard-mb", type=int, default=256,
                    help="per-shard payload target the policy aims for")
    args = ap.parse_args(argv)
    if not args.plan and not args.output:
        raise SystemExit("--output is required unless --plan")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("textindexing-reshard") \
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from textindexing_spark.operators.bm25 import SegmentIndex

    idx = SegmentIndex.load(spark, args.index)
    # plan_reshard scans every compressed blob's length (a full-index
    # stats pass) — only pay for it when the plan decides the shard
    # count or the caller asked to see it
    plan = (idx.plan_reshard(args.target_shard_mb << 20)
            if args.plan or args.shards is None else None)
    if args.plan:
        print(json.dumps({"index": args.index, "plan": plan}))
        spark.stop()
        return

    new_n = args.shards if args.shards is not None else plan["recommended"]
    t0 = time.perf_counter()
    grown = idx.reshard(new_n)
    grown.save(args.output)
    elapsed = time.perf_counter() - t0
    after = SegmentIndex.load(spark, args.output).stats_summary()
    print(json.dumps({
        "index": args.index,
        "output": args.output,
        "n_shards_before": idx.n_shards,
        "n_shards_after": new_n,
        "plan": plan,
        "wall_s": round(elapsed, 2),
        "stats_after": after,
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
