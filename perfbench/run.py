#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

``--seconds`` sets the timed window as whole cycles of the workload's op
pattern: S / the cycle's nominal duration, rounded, at least one (see
README.md). Run from the root of a checkout. The last stdout line is one
JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run. The full record (every sample, host weather, spans) is written to
``.bench_work/records/``. Everything the run writes stays under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "ingest")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # the pinned hash seed has to be in place before the interpreter starts
    if os.environ.get("PYTHONHASHSEED") != "0":
        env = dict(os.environ, PYTHONHASHSEED="0",
                   PERFBENCH_T0=repr(time.time()))
        os.execve(sys.executable, [sys.executable, *sys.argv], env)
    t0 = float(os.environ.get("PERFBENCH_T0", time.time()))

    if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
        sys.path.pop(0)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import textindexing_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    from perfbench import harness, layers, runtime, workloads
    from perfbench.stats import median

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = runtime.start_spark(work, ROOT)
    rss = None
    try:
        rss = runtime.RssPeak(
            spark._jvm.java.lang.ProcessHandle.current().pid()).start()
        run = harness.Run(spark, traced=bool(args.trace))
        if run.tracer is not None:
            harness.install_wrappers(run)
        clock = workloads.Clock(t0)
        body = getattr(workloads, args.workload)
        out = body(spark, run, args.seed, args.seconds, work, clock)
        e2e = workloads.e2e_metrics(run, out, rss.stop())
        per_layer = None
        if run.tracer is not None:
            run.tracer.restore()
            run.attach_spans()
            store = out["store_root"]
            per_layer = layers.layer_metrics(
                run, out, args.workload,
                f"{store}/v{out['final_version']}/segments")
    finally:
        if rss is not None:
            rss.stop()
        runtime.stop_spark(spark)
        runtime.remove_tree(work)

    correct = run.failed == 0 and all(v > 0 for v in e2e.values())
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "runtime": runtime.RUNTIME, "correct": correct,
        "attempted": run.attempted, "failed": run.failed,
        "errors": run.errors[:20],
        "error_ratio": run.failed / max(run.attempted, 1),
        "e2e": e2e, "per_layer": per_layer,
        "samples": {k: v for k, v in run.samples.items()},
        "window": {k: v for k, v in out["window"].items() if k != "jvm"},
        "ops": run.ops, "spans": run.tracer.spans if run.tracer else None,
    }
    os.makedirs(os.path.join(bench_dir, "records"), exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(bench_dir, "records", name), "w") as fh:
        json.dump(record, fh)

    for kind, xs in sorted(run.samples.items()):
        print(f"{kind:7s} n={len(xs):3d} median={median(xs):.4f}s")
    for err in run.errors[:5]:
        print(f"error: {err}")
    print(f"error_ratio={record['error_ratio']:.4f} "
          f"steal_s={out['window']['host.steal_s']:.2f} "
          f"busy_cores={out['window']['host.busy_cores']:.2f}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": workloads.UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
