"""The pinned runtime, and what the host and processes did during a run.

Every run uses the same Spark and JVM settings (``RUNTIME``). All files a
run writes, Spark's scratch space and the JVM/Python temp dirs included,
live under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

NPROC = len(os.sched_getaffinity(0))
DRIVER_HEAP = "2g"
# C1 only: a run lives about a minute, too short for C2 to pay off, and
# C2's compiles would compete with the timed work for the cores
# AlwaysPreTouch: the JVM's resident heap is then the whole heap from the
# start, not whatever part of it the run's GC cycles happened to touch
JVM_FLAGS = ("-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
             "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=2 "
             "-XX:+AlwaysPreTouch -XX:-UsePerfData")
RUNTIME = {
    "master": f"local[{NPROC}]",
    "spark.sql.shuffle.partitions": str(NPROC),
    "spark.sql.adaptive.enabled": "true",
    "spark.driver.memory": DRIVER_HEAP,
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "jvm_flags": f"-Xms{DRIVER_HEAP} {JVM_FLAGS}",
    "PYTHONHASHSEED": "0",
}
CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_spark(work: str, root: str):
    """A local session with the pinned runtime; scratch under ``work``.
    Python workers import the engine from ``root`` via PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(RUNTIME["master"]) \
        .appName("perfbench")
    for k, v in RUNTIME.items():
        if k.startswith("spark."):
            builder = builder.config(k, v)
    spark = (builder
             .config("spark.driver.extraJavaOptions",
                     f"{RUNTIME['jvm_flags']} -Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # ship the engine the way textindexing_spark._pkg.ensure_shipped
    # does, but with the zip inside the work dir (its default is /tmp)
    from textindexing_spark import _pkg

    spark.sparkContext.addPyFile(
        _pkg.package_zip(os.path.join(work, "textindexing_spark.zip")))
    _pkg._SHIPPED_SESSIONS.add(id(spark))
    return spark


def prewarm(spark) -> None:
    """Run the session's first job and start its Python workers, each
    importing the engine, before anything is timed. Without this the
    first timed build also pays for worker start-up and imports, the
    most erratic part of a cold start."""
    def load_engine(frames):
        import textindexing_spark.operators.bm25  # noqa: F401
        yield from frames

    (spark.range(4 * NPROC, numPartitions=NPROC)
     .mapInPandas(load_engine, "id long").collect())


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers
    have exited."""
    import time

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.05)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# -- /proc readings -----------------------------------------------------------

def host_cpu() -> tuple[int, int]:
    """(steal, busy) jiffies summed over all cpus, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = f[:8]
    return steal, user + nice + system + irq + softirq + steal


def weather(before: tuple[int, int], after: tuple[int, int],
            seconds: float) -> dict:
    """Host weather over a window: steal seconds and busy cores."""
    return {"host.steal_s": (after[0] - before[0]) / CLK_TCK,
            "host.busy_cores": (after[1] - before[1]) / CLK_TCK
            / max(seconds, 1e-9)}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(pid: int) -> list[int]:
    """pid and every live process below it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    out, frontier = [pid], [pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def cpu_seconds(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12])
    return total / CLK_TCK


def rss_mb(pids) -> float:
    """Sum of VmRSS (current resident set) over ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


class RssPeak:
    """Peak of the summed resident set of this process and the JVM's
    process tree, sampled every ``interval`` seconds on a daemon thread.
    A Python worker that Spark reaps when idle counts while it lived;
    a sum of VmHWM read at the end would miss it."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid(), *descendants(self.jvm_pid)]
        self.peak = max(self.peak, rss_mb(pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssPeak":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
