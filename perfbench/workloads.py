"""The two workloads, each one closed-loop client thread.

``serve``: a prepared serving session. Setup ingests a seeded crawl as
one ``process_batch`` micro-batch (the recrawl tail inside it exercises
last-wins dedup), opens the committed version and prepares it. The timed
window is read-only: WAND queries, 16-query batches and cold opens.

``ingest``: the write path with reads beside writes. Setup builds the
base crawl with one ``process_batch``. The timed window commits a seeded
micro-batch and then reads the version just committed, cold: fresh
opens (``store.load()`` + WAND) and batches.

Every end-to-end metric is measured on both workloads; README.md gives
each metric's definition per workload.
"""

from __future__ import annotations

import time

from perfbench import corpus, runtime
from perfbench.oracle import Reference, check_topk
from perfbench.stats import median

N_SHARDS = 4
K = 10
UNITS = {"setup_s": "s", "build_docs_per_s": "docs/s", "upsert_p50_ms": "ms",
         "wand_p50_ms": "ms", "batch_qps": "1/s", "fresh_query_p50_ms": "ms",
         "index_bytes_per_text_byte": "ratio", "peak_rss_mb": "MB"}


class Clock:
    """Wall time since process start, minus benchmark-only work (the
    reference oracle, query generation, answer bookkeeping)."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.own = 0.0

    def mine(self):
        clock = self

        class _Own:
            def __enter__(self):
                self.a = time.perf_counter()

            def __exit__(self, *exc):
                clock.own += time.perf_counter() - self.a

        return _Own()

    def elapsed(self) -> float:
        return time.time() - self.t0 - self.own


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df_rows]


def _mapping(ing) -> dict[str, int]:
    return {r["url"]: r["doc_id"] for r in ing.url_ids.mapping().collect()}


class Session:
    """State shared by the op bodies of one workload."""

    def __init__(self, spark, run, work: str):
        from textindexing_spark.sources.pages import PAGES_SCHEMA
        from textindexing_spark.streaming.ingest import (
            StreamingSegmentIngestor)

        self.spark, self.run = spark, run
        self.schema = PAGES_SCHEMA
        self.ing = StreamingSegmentIngestor(spark, f"{work}/index",
                                            n_shards=N_SHARDS)
        self.ref = Reference()
        self.texts: dict[str, str] = {}      # live url -> text
        self.ids: dict[str, int] = {}
        self.pruned: list[float] = []
        self.write_amp: list[tuple[str, float]] = []

    # -- writes ---------------------------------------------------------------

    def commit(self, kind: str, rows: list[tuple], clock: Clock,
               count: bool = True) -> int | None:
        """One ``process_batch``; then (untimed) bring the reference to
        the last-wins state the batch should leave."""
        df = self.spark.createDataFrame(rows, self.schema)
        before = self.ing.store._latest() or 0
        v = self.run.op(kind, lambda: self.ing.process_batch(df),
                        lambda v: None if v == before + 1
                        else f"version {v}, expected {before + 1}", count)
        with clock.mine():
            self.ids = _mapping(self.ing)
            for url, text in corpus.last_wins(rows).items():
                self.ref.apply(self.ids[url], text)
                if self.ref.docs.get(self.ids[url]):
                    self.texts[url] = text
                else:
                    self.texts.pop(url, None)
            text_bytes = sum(len(r[3].encode()) for r in rows)
            if v is not None:
                self.write_amp.append((kind, runtime.tree_bytes(
                    f"{self.ing.store.root}/v{v}") / text_bytes))
        return v

    # -- reads ----------------------------------------------------------------

    def wand(self, seg, q: str, ranking, count: bool = True):
        def body():
            df = seg.search_bm25(q, K)
            with self.run.span("collect"):
                rows = df.collect()
            self.run.note_plan(df)
            return _rows(rows)
        return self.run.op("wand", body, lambda got: check_topk(got, ranking),
                           count)

    def fresh(self, q: str, ranking, part: str | None, count: bool = True):
        """store.load() + WAND on the newest version, cold. ``part``
        names the sample kind the search alone is also kept under."""
        run = self.run

        def body():
            seg = self.ing.store.load()
            run.group("-search")
            t = time.perf_counter()
            df = seg.search_bm25(q, K)
            with run.span("collect"):
                rows = df.collect()
            if part:
                run.part(part, time.perf_counter() - t)
            run.note_plan(df)
            return _rows(rows)
        return run.op("fresh", body, lambda got: check_topk(got, ranking),
                      count)

    def batch(self, seg, qs: list[str], rankings, count: bool = True):
        def body():
            df = seg.search_bm25_many(qs, K)
            with self.run.span("collect"):
                rows = df.collect()
            self.run.note_plan(df)
            out: dict[str, list] = {q: [] for q in qs}
            for r in rows:
                out[r["query_id"]].append((r["doc_id"], r["score"]))
            return out

        def check(got):
            for q, ranking in zip(qs, rankings):
                reason = check_topk(got[q], ranking)
                if reason:
                    return f"{q!r}: {reason}"
            return None
        return self.run.op("batch", body, check, count)

    # -- checks after the window ---------------------------------------------

    def final_checks(self, explain_seg, wand_queries) -> dict:
        seg = self.ing.store.load()
        n_docs = seg.stats_summary()["n_docs"]
        if n_docs != len(self.ref.docs):
            self.run.fail(f"stats_summary n_docs {n_docs}, "
                          f"expected {len(self.ref.docs)}")
        if self.run.tracer is not None:   # a per-layer metric only
            for q in wand_queries:
                self.pruned.append(explain_seg.explain_shards(q)
                                   ["pruned_fraction"] or 0.0)
        text_bytes = sum(len(t.encode()) for t in self.texts.values())
        root, v = self.ing.store.root, self.ing.store._latest()
        return {"index_bytes_per_text_byte":
                runtime.tree_bytes(f"{root}/v{v}") / text_bytes,
                "store_root": root, "final_version": v}


def _cycles(seconds: float, cycle_s: float) -> int:
    """Whole pattern cycles per window: as many as fit ``seconds`` at the
    cycle's nominal duration, at least one. The count does not depend on
    how fast this run goes, so every run (and every commit) samples the
    same op sequence."""
    return max(1, round(seconds / cycle_s))


def _window(cycles: int, pattern, step) -> None:
    for cycle in range(cycles):
        for kind in pattern:
            if step(kind, cycle) is False:
                return


def serve(spark, run, seed: int, seconds: float, work: str,
          clock: Clock) -> dict:
    s = Session(spark, run, work)
    crawl = corpus.serve_corpus(seed)
    runtime.prewarm(spark)
    s.commit("build", crawl, clock)
    # serve's only micro-batch is its crawl: that is its upsert sample
    run.samples["upsert"] = list(run.samples["build"])
    seg = s.ing.store.load().prepare_for_queries(query_groups=runtime.NPROC)

    cycles = _cycles(seconds, corpus.SERVE_CYCLE_S)
    warm_kinds = tuple(dict.fromkeys(corpus.SERVE_PATTERN))
    with clock.mine():
        gen = corpus.QueryGen(s.ref, seed)
        # the untimed warm-up gets its own texts, drawn first; each pool
        # holds exactly the texts its ops use, in the order they run
        pools = [{k: [gen.batch() if k == "batch" else gen.ranked()
                      for _ in range(kinds.count(k))] for k in warm_kinds}
                 for kinds in (warm_kinds, corpus.SERVE_PATTERN * cycles)]
        rank = {q: s.ref.ranking(q) for p in pools for k, texts in p.items()
                for t in texts for q in (t if k == "batch" else [t])}

    def play(pool: dict, count: bool):
        left = {k: iter(v) for k, v in pool.items()}

        def step(kind, _cycle):
            q = next(left[kind])
            if kind == "wand":
                s.wand(seg, q, rank[q], count)
            elif kind == "fresh":
                s.fresh(q, rank[q], None, count)
            else:
                s.batch(seg, q, [rank[t] for t in q], count)
        return step

    warm_step = play(pools[0], count=False)
    for kind in warm_kinds:
        warm_step(kind, 0)

    setup_s = clock.elapsed()
    w0 = _window_start(run)
    _window(cycles, corpus.SERVE_PATTERN, play(pools[1], count=True))
    w = _window_end(run, w0)
    out = s.final_checks(seg, pools[1]["wand"])
    out.update(setup_s=setup_s, build_docs=len(crawl), window=w,
               pruned=s.pruned, write_amp=s.write_amp,
               corpus_texts=[r[3] for r in crawl])
    return out


def ingest(spark, run, seed: int, seconds: float, work: str,
           clock: Clock) -> dict:
    s = Session(spark, run, work)
    base = corpus.ingest_base(seed)
    with clock.mine():
        stream = corpus.ingest_stream(seed, base)
    runtime.prewarm(spark)
    s.commit("build", base, clock)

    cycles = _cycles(seconds, corpus.INGEST_CYCLE_S)
    with clock.mine():
        gen = corpus.QueryGen(s.ref, seed)
        warm_q, warm_batch = gen.ranked(), gen.batch()
        warm_rank = {q: s.ref.ranking(q) for q in (warm_q, *warm_batch)}
    s.fresh(warm_q, warm_rank[warm_q], None, count=False)
    s.batch(s.ing.store.load(), warm_batch,
            [warm_rank[q] for q in warm_batch], count=False)

    setup_s = clock.elapsed()
    state: dict = {}
    fresh_done: list[str] = []

    def step(kind, cycle):
        if kind == "upsert":
            if cycle >= len(stream):
                return False
            s.commit("upsert", stream[cycle], clock)
            with clock.mine():
                g = corpus.QueryGen(s.ref, seed * 1000 + cycle)
                introduced = sorted(
                    t for t in s.ref.postings if t.startswith(f"nova{cycle}x"))
                state["fresh"] = [g.ranked(introduced[0] if introduced
                                           and j == 0 else None)
                                  for j in range(
                                      corpus.INGEST_PATTERN.count("fresh"))]
                state["batch"] = [g.batch() for _ in range(
                    corpus.INGEST_PATTERN.count("batch"))]
                state["rank"] = {q: s.ref.ranking(q) for q in
                                 (*state["fresh"], *(q for b in state["batch"]
                                                     for q in b))}
        elif kind == "fresh":
            q = state["fresh"].pop(0)
            fresh_done.append(q)
            s.fresh(q, state["rank"][q], "wand")
        else:
            seg = s.ing.store.load()
            qs = state["batch"].pop(0)
            s.batch(seg, qs, [state["rank"][q] for q in qs])

    w0 = _window_start(run)
    _window(cycles, corpus.INGEST_PATTERN, step)
    w = _window_end(run, w0)
    out = s.final_checks(s.ing.store.load(), fresh_done)
    out.update(setup_s=setup_s, build_docs=len(base), window=w,
               pruned=s.pruned, write_amp=s.write_amp,
               corpus_texts=[r[3] for r in base])
    return out


def _window_start(run) -> dict:
    return {"t": time.perf_counter(), "host": runtime.host_cpu(),
            "ops": run.attempted,
            "jvm": run.jvm_snapshot() if run.tracer else None}


def _window_end(run, w0: dict) -> dict:
    seconds = time.perf_counter() - w0["t"]
    out = runtime.weather(w0["host"], runtime.host_cpu(), seconds)
    out.update(seconds=seconds, ops=run.attempted - w0["ops"])
    if run.tracer:
        out["jvm"] = (w0["jvm"], run.jvm_snapshot())
    return out


def e2e_metrics(run, out: dict, peak_rss_mb: float) -> dict:
    s = run.samples

    def ms(kind):
        m = median(s.get(kind, []))
        return m * 1000 if m else 0.0

    build = median(s.get("build", []))
    batch = median(s.get("batch", []))
    return {
        "setup_s": out["setup_s"],
        "build_docs_per_s": out["build_docs"] / build if build else 0.0,
        "upsert_p50_ms": ms("upsert"),
        "wand_p50_ms": ms("wand"),
        "batch_qps": corpus.BATCH_QUERIES / batch if batch else 0.0,
        "fresh_query_p50_ms": ms("fresh"),
        "index_bytes_per_text_byte": out["index_bytes_per_text_byte"],
        "peak_rss_mb": peak_rss_mb,
    }
