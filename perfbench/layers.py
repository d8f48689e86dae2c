"""Per-layer metrics of a traced run, named by engine module.

Each value is the median over the run's operations of one kind (setup
build included). ``wand`` on ``ingest`` is the search half of each fresh
read, the cold WAND call on the version just committed. ``upsert`` on
``serve`` is its only micro-batch, the crawl, which goes into an empty
store, so its merge is the fused build.
"""

from __future__ import annotations

import time

from perfbench.stats import median

QUERY_OPS = ("wand", "batch")
PY_OPS = ("wand", "batch", "build", "upsert")
NAMES = (
    [f"{op}.{m}" for op in QUERY_OPS
     for m in ("plan_ms", "exec_ms", "jobs", "stages", "tasks", "scan_rows")]
    + ["fresh.plan_ms"]
    + [f"{op}.{m}" for op in PY_OPS
       for m in ("py_init_ms", "py_total_ms", "py_bytes_sent", "py_rows_out")]
    + ["wand.pruned_fraction", "codec.decode_mb_s", "codec.encode_mb_s",
       "tokenize.mb_s", "build.encode_ms", "build.save_ms", "build.jobs",
       "upsert.merge_ms", "upsert.urlids_ms", "upsert.commit_ms",
       "upsert.load_ms", "upsert.self_ms", "upsert.jobs", "store.write_amp",
       "jvm.gc_ms_per_op", "jvm.codegen_ms_per_op",
       "jvm.codegen_compiles_per_op", "cpu.jvm_s_per_op",
       "cpu.python_s_per_op", "host.steal_s", "host.busy_cores"])


def unit(name: str) -> str:
    for suffix, u in (("_ms", "ms"), ("_ms_per_op", "ms"), ("_s_per_op", "s"),
                      ("steal_s", "s"), ("mb_s", "MB/s"),
                      ("py_bytes_sent", "bytes"), ("busy_cores", "cores"),
                      ("pruned_fraction", "ratio"), ("write_amp", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return median(times)


CODEC_BLOBS = 2_000


def codec_rates(segments_dir: str) -> dict:
    """varbyte decode/encode MB/s over the index's own posting blobs
    (the first CODEC_BLOBS of each column; MB of encoded bytes)."""
    import numpy as np
    import pyarrow.parquet as pq

    from textindexing_spark.operators import codec

    table = pq.read_table(segments_dir, columns=["gaps", "tfs"])
    blobs = [np.frombuffer(b, dtype=np.uint8)
             for col in ("gaps", "tfs")
             for b in table.column(col).to_pylist()[:CODEC_BLOBS] if b]
    mb = sum(b.nbytes for b in blobs) / 1e6
    decoded = [codec.varbyte_decode(b) for b in blobs]
    return {
        "codec.decode_mb_s": mb / _median_time(
            lambda: [codec.varbyte_decode(b) for b in blobs]),
        "codec.encode_mb_s": mb / _median_time(
            lambda: [codec.varbyte_encode(v) for v in decoded]),
    }


def tokenize_rate(texts: list[str]) -> float:
    import pandas as pd

    from textindexing_spark.functions.tokenize import tokenize_series

    series = pd.Series(texts)
    mb = sum(len(t.encode()) for t in texts) / 1e6
    return mb / _median_time(lambda: tokenize_series(series))


def layer_metrics(run, out: dict, workload: str, segments_dir: str) -> dict:
    ops = [r for r in run.ops if not r["warm"]]

    def med(kind, fn):
        vals = [v for v in (fn(r) for r in ops if r["kind"] == kind)
                if v is not None]
        return median(vals) if vals else 0.0

    def span_ms(name, own=False):
        return lambda r: r.get("spans", {}).get(name, [0.0, 0.0])[own] * 1000

    kind_of = ({"wand": "fresh"} if workload == "ingest"
               else {"upsert": "build"})
    up = kind_of.get("upsert", "upsert")
    merge = "segment.upsert" if up == "upsert" else "build_segments"
    m: dict[str, float] = {}
    for op in QUERY_OPS:
        k = kind_of.get(op, op)
        m[f"{op}.plan_ms"] = med(k, span_ms("plan"))
        m[f"{op}.exec_ms"] = med(k, span_ms("collect"))
        for c in ("jobs", "stages", "tasks", "scan_rows"):
            m[f"{op}.{c}"] = med(k, lambda r, c=c: r.get(c))
    m["fresh.plan_ms"] = med("fresh", span_ms("plan"))
    for op in PY_OPS:
        k = kind_of.get(op, op)
        for c in ("py_init_ms", "py_total_ms", "py_bytes_sent", "py_rows_out"):
            m[f"{op}.{c}"] = med(k, lambda r, c=c: r.get(c))
    m["wand.pruned_fraction"] = median(out["pruned"]) if out["pruned"] else 0.0
    m.update(codec_rates(segments_dir))
    m["tokenize.mb_s"] = tokenize_rate(out["corpus_texts"])
    m["build.encode_ms"] = med("build", span_ms("build_segments"))
    m["build.save_ms"] = med("build", span_ms("segment.save"))
    m["build.jobs"] = med("build", lambda r: r.get("jobs"))
    m["upsert.merge_ms"] = med(up, span_ms(merge))
    m["upsert.urlids_ms"] = med(up, span_ms("urlids.assign"))
    m["upsert.commit_ms"] = med(up, span_ms("store.commit"))
    m["upsert.load_ms"] = med(up, span_ms("store.load"))
    m["upsert.self_ms"] = med(up, span_ms("process_batch", own=True))
    m["upsert.jobs"] = med(up, lambda r: r.get("jobs"))
    amps = [a for kind, a in out["write_amp"] if kind == up]
    m["store.write_amp"] = median(amps) if amps else 0.0
    w = out["window"]
    j0, j1 = w["jvm"]
    n = max(w["ops"], 1)
    m["jvm.gc_ms_per_op"] = (j1["gc_ms"] - j0["gc_ms"]) / n
    compiles = j1["compiles"] - j0["compiles"]
    m["jvm.codegen_compiles_per_op"] = compiles / n
    m["jvm.codegen_ms_per_op"] = compiles * j1["compile_mean_ms"] / n
    m["cpu.jvm_s_per_op"] = (j1["cpu_jvm_s"] - j0["cpu_jvm_s"]) / n
    m["cpu.python_s_per_op"] = (j1["cpu_python_s"] - j0["cpu_python_s"]) / n
    m["host.steal_s"] = w["host.steal_s"]
    m["host.busy_cores"] = w["host.busy_cores"]
    return {k: m[k] for k in NAMES}
