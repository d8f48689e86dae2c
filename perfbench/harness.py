"""Timed operations, the correctness tally, and the traced-run probes.

Untraced runs time each public engine call with ``perf_counter`` and
nothing else. A traced run additionally (a) wraps the public entry points
listed in ``install_wrappers`` with spans, (b) gives every operation its
own Spark job group and reads its jobs, stages and tasks from
``statusTracker()``, and (c) walks the executed plan of the operation's
DataFrame for SQL metrics. The probes run after the operation's clock
has stopped, except the plan capture inside ``store.commit``, which must
happen before the ingestor unpersists the frame.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time
from collections import defaultdict

from perfbench import runtime
from perfbench.spans import Tracer, self_times

PY_NODES = {"FlatMapCoGroupsInPandas", "MapInPandas", "FlatMapGroupsInPandas",
            "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
            "PythonMapInArrow"}
_PY_KEYS = (("py_init_ms", "pythonInitTime"), ("py_total_ms", "pythonTotalTime"),
            ("py_bytes_sent", "pythonDataSent"),
            ("py_rows_out", "pythonNumRowsReceived"))


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(jplan, into_cache: bool = False) -> dict:
    """Python-boundary and scan SQL metrics summed over an executed plan,
    walking AdaptiveSparkPlan -> final plan and *QueryStage -> plan().
    ``into_cache`` also descends into the plan that materialized a cached
    relation (for frames whose work happened inside the cache)."""
    acc = dict.fromkeys([k for k, _ in _PY_KEYS] + ["scan_rows"], 0)
    stack, seen = [jplan], set()
    while stack:
        p = stack.pop()
        if p.id() in seen:
            continue
        seen.add(p.id())
        name, cls = p.nodeName(), p.getClass().getSimpleName()
        m = {kv._1(): kv._2().value() for kv in _scala_iter(p.metrics())}
        if name in PY_NODES:
            for key, spark_key in _PY_KEYS:
                acc[key] += m.get(spark_key, 0)
        if "Scan" in name:
            acc["scan_rows"] += m.get("numOutputRows", 0)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        elif cls == "InMemoryTableScanExec" and into_cache:
            stack.append(p.relation().cachedPlan())
        stack.extend(_scala_iter(p.children()))
    return acc


class Run:
    """One benchmark run: samples per op kind, the error tally and, when
    traced, per-op layer records."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer() if traced else None
        self.ops: list[dict] = []          # traced: one record per op
        self._ids = itertools.count()
        self._cur: dict | None = None
        self._pending_plans: list = []

    # -- timing ---------------------------------------------------------------

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def group(self, part: str = "") -> None:
        """Point Spark jobs at the current op's job group (traced)."""
        if self.tracer is not None and self._cur is not None:
            self.spark.sparkContext.setJobGroup(
                f"perfbench-{self._cur['id']}{part}", self._cur["kind"])

    def op(self, kind: str, body, check=None, count: bool = True):
        """Time ``body()`` (which returns the answer); ``check(answer)``
        returns None or a reason. Failures count against
        ``attempted`` and are kept out of the latency samples. ``count``
        False marks an untimed warm-up."""
        rec = {"id": next(self._ids), "kind": kind, "warm": not count}
        self._cur = rec
        if self.tracer is not None:
            self.tracer.op = rec["id"]
            self.group()
        t0 = time.perf_counter()
        try:
            answer = body()
            rec["t"] = time.perf_counter() - t0
            reason = check(answer) if check is not None else None
        except Exception as exc:  # an op that raises is a failed op
            answer, reason = None, f"raised {type(exc).__name__}: {exc}"
        if self.tracer is not None:
            self.tracer.op = None
            self._harvest(rec)
            self.spark.sparkContext.setJobGroup("perfbench-between", "")
            self.ops.append(rec)
        self._cur = None
        if count:
            self.attempted += 1
            if reason is None:
                self.samples[kind].append(rec["t"])
                for part, seconds in rec.get("parts", {}).items():
                    self.samples[part].append(seconds)
            else:
                self.failed += 1
                self.errors.append(f"{kind}: {reason}")
        return answer

    def part(self, kind: str, seconds: float) -> None:
        """Time of a part of the current op, kept as a ``kind`` sample
        if the op succeeds."""
        self._cur.setdefault("parts", {})[kind] = seconds

    def fail(self, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(reason)

    # -- traced probes -------------------------------------------------------

    def jvm_snapshot(self) -> dict:
        """JVM GC/codegen counters and CPU seconds of the JVM and of the
        Python processes (this driver plus the JVM's Python workers)."""
        snap = jvm_counters(self.spark)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        workers = runtime.descendants(jvm_pid)[1:]
        snap["cpu_jvm_s"] = runtime.cpu_seconds([jvm_pid])
        snap["cpu_python_s"] = runtime.cpu_seconds([os.getpid(), *workers])
        return snap

    def note_plan(self, df, into_cache: bool = False) -> None:
        """Keep the op's executed plan for the walk after the clock stops."""
        if self.tracer is not None and self._cur is not None:
            self._pending_plans.append(
                (df._jdf.queryExecution().executedPlan(), into_cache))

    def _harvest(self, rec: dict) -> None:
        st = self.spark.sparkContext.statusTracker()
        counts = {}
        for part in ("", "-search"):
            jobs = st.getJobIdsForGroup(f"perfbench-{rec['id']}{part}")
            stages = [s for j in jobs if st.getJobInfo(j)
                      for s in st.getJobInfo(j).stageIds]
            infos = [st.getStageInfo(s) for s in stages]
            counts[part] = (len(jobs), len(stages),
                            sum(i.numTasks for i in infos if i))
        # a fresh read splits its store.load() jobs from its search jobs
        main = counts["-search"] if counts["-search"][0] else counts[""]
        rec["jobs"], rec["stages"], rec["tasks"] = main
        acc: dict = {}
        for jplan, into_cache in self._pending_plans:
            for k, v in plan_metrics(jplan, into_cache).items():
                acc[k] = acc.get(k, 0) + v
        self._pending_plans.clear()
        rec.update(acc)

    def attach_spans(self) -> None:
        """Sum each op's spans by name as [duration, self time]."""
        by_id = {rec["id"]: rec for rec in self.ops}
        for s, own in zip(self.tracer.spans, self_times(self.tracer.spans)):
            rec = by_id.get(s["op"])
            if rec is not None:
                d = rec.setdefault("spans", {}).setdefault(s["name"],
                                                           [0.0, 0.0])
                d[0] += s["end"] - s["start"]
                d[1] += own


def install_wrappers(run: Run) -> None:
    """Replace the public entry points of each layer with span wrappers."""
    from textindexing_spark.operators import bm25 as bm25_mod
    from textindexing_spark.sources.catalog import VersionedSegmentStore
    from textindexing_spark.sources.urlids import UrlIdTable
    from textindexing_spark.streaming.ingest import StreamingIngestor

    t = run.tracer

    def capture_fused(args, _version):
        # the committed index's fused frame holds the build/upsert work
        # in its cache; the ingestor unpersists it right after commit
        fused = getattr(args[1], "_fused", None)
        if fused is not None:
            run.note_plan(fused, into_cache=True)

    t.wrap(StreamingIngestor, "process_batch", "process_batch")
    t.wrap(UrlIdTable, "assign", "urlids.assign")
    t.wrap(bm25_mod, "build_segments_from_docs", "build_segments")
    t.wrap(bm25_mod.SegmentIndex, "upsert", "segment.upsert")
    t.wrap(bm25_mod.SegmentIndex, "save", "segment.save")
    t.wrap(VersionedSegmentStore, "commit", "store.commit", capture_fused)
    t.wrap(VersionedSegmentStore, "load", "store.load")
    t.wrap(bm25_mod.SegmentIndex, "search_bm25", "plan")
    t.wrap(bm25_mod.SegmentIndex, "search_bm25_many", "plan")


def jvm_counters(spark) -> dict:
    """GC time (ms) and codegen compile count / mean compile ms, read
    through py4j from the driver JVM."""
    jvm = spark._jvm
    gc_ms = sum(b.getCollectionTime() for b in
                jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans())
    hist = getattr(getattr(jvm.org.apache.spark.metrics.source,
                           "CodegenMetrics$"), "MODULE$") \
        .METRIC_COMPILATION_TIME()
    return {"gc_ms": gc_ms, "compiles": hist.getCount(),
            "compile_mean_ms": hist.getSnapshot().getMean()}
