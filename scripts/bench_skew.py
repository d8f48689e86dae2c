#!/usr/bin/env python
"""Head-term salting payoff demonstration.

The per-round bench's Zipf row (bench.py q5) shows the salting OVERHEAD
is bounded at demo scale; this script shows the PAYOFF at the scale the
mechanism exists for: a head term whose full posting list does NOT fit
one reducer's memory budget. It synthesizes a token table with one
stopword-grade head term plus a flat tail and builds postings:

- unsalted: ONE reducer owns the head term and must collect_list +
  sort_array the whole list in a single task — at a bounded executor
  heap that task dies with java.lang.OutOfMemoryError;
- salted (two-phase): the head term splits across ceil(df/bucket)
  reducers, each building a bounded sublist, merged in a second, much
  smaller shuffle — completes at the same heap.

An executor OOM kills the local-mode JVM, so each variant runs in its
OWN subprocess (`--mode salted|unsalted`); the default compare mode
spawns both and prints one combined JSON line (a failed variant is
reported as oom=true). Generation is spark.range arithmetic (no text,
no Python) so the measurement isolates the aggregation shape.

Env: SKEW_HEAD_DF (default 16_000_000), SKEW_TAIL_ROWS (default
2_000_000, 4000 tail terms), SPARK_GRAFT_CPUS (default 8),
SPARK_GRAFT_DRIVER_MEM (default 3g here — the bounded budget IS the
demonstration; bench.py's 24g default would absorb the head list).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

HEAD_DF = int(os.environ.get("SKEW_HEAD_DF", "16000000"))
TAIL_ROWS = int(os.environ.get("SKEW_TAIL_ROWS", "2000000"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")
MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")


def run_one(mode: str) -> None:
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = MEM
    from bench import make_spark

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from textindexing_spark import IndexConfig
    from textindexing_spark.operators.build import postings_from_tokens

    head = spark.range(HEAD_DF).select(
        F.col("id").alias("doc_id"),
        F.lit("the").alias("term"), F.lit(1).alias("tf"))
    tail = spark.range(TAIL_ROWS).select(
        (F.col("id") % HEAD_DF).alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 4000).cast("string"))
         .alias("term"),
        F.lit(1).alias("tf"))
    tokens = head.unionByName(tail).repartition(64).persist()
    tokens.count()

    if mode == "segment":
        # the doc-sharded scale path: no task ever materializes a full
        # head-term list (a stopword's postings split across all shards)
        from textindexing_spark.operators.bm25 import build_segments

        t0 = time.perf_counter()
        seg = build_segments(spark, tokens, IndexConfig(), n_shards=64)
        n = seg.segments.agg(F.sum("n_docs")).collect()[0][0]
        dt = time.perf_counter() - t0
        print(json.dumps({"mode": mode, "wall_s": round(dt, 2),
                          "total_postings": int(n)}))
        spark.stop()
        return

    cfg = (IndexConfig(salt_df_threshold=1_000_000,
                       salt_target_bucket=250_000)
           if mode == "salted" else IndexConfig(salt_df_threshold=0))
    # warm the agg codegen on a slice so the timed run doesn't pay it
    postings_from_tokens(tokens.limit(10_000), cfg) \
        .agg(F.count("*")).collect()
    t0 = time.perf_counter()
    n = (postings_from_tokens(tokens, cfg)
         .agg(F.sum(F.size("postings"))).collect()[0][0])
    dt = time.perf_counter() - t0
    print(json.dumps({"mode": mode, "wall_s": round(dt, 2),
                      "total_postings": int(n)}))
    spark.stop()


def compare() -> None:
    out: dict = {
        "metric": "skewed postings build at a bounded reducer heap",
        "head_df": HEAD_DF, "tail_rows": TAIL_ROWS,
        "heap": MEM, "cpus": CPUS,
        "salted_fanout": -(-HEAD_DF // 250_000),
    }
    for mode in ("salted", "unsalted", "segment"):
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--mode", mode],
                capture_output=True, text=True, timeout=900)
        except subprocess.TimeoutExpired:
            # a GC-thrashing unsalted run can hang instead of OOMing
            # promptly — report it failed rather than discarding the
            # other modes' already-collected results
            out[f"{mode}_s"] = None
            out[f"{mode}_error"] = "timeout after 900s (GC thrash)"
            continue
        line = (r.stdout.strip().splitlines() or [""])[-1]
        try:
            res = json.loads(line)
            out[f"{mode}_s"] = res["wall_s"]
            out[f"{mode}_postings"] = res["total_postings"]
        except (json.JSONDecodeError, KeyError):
            oom = "OutOfMemoryError" in (r.stderr + r.stdout)
            out[f"{mode}_s"] = None
            out[f"{mode}_oom"] = oom
            out[f"{mode}_error"] = "java.lang.OutOfMemoryError" if oom \
                else (r.stderr.strip().splitlines() or ["unknown"])[-1][:200]
    print(json.dumps(out))


if __name__ == "__main__":
    if "--mode" in sys.argv:
        run_one(sys.argv[sys.argv.index("--mode") + 1])
    else:
        compare()
