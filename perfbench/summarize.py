#!/usr/bin/env python3
"""Summarize run records written by run.py.

    python3 perfbench/summarize.py .bench_work/records/*.json [--out FILE]

For the untraced runs of each workload: every end-to-end metric's raw
per-run values, median, quartiles and spread ((q3 - q1) / median, as
``statistics.quantiles(values, n=4)`` gives them), plus each run's host
steal seconds. For traced runs: the per-layer values per run, the
per-op job/stage/task counts (and whether they repeat exactly across
the traced runs given), and the tracing overhead of each end-to-end
metric (traced median / untraced median - 1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import median, quartiles, spread  # noqa: E402


def _summary(values: list[float]) -> dict:
    out = {"values": values, "median": median(values)}
    if len(values) >= 2:
        q1, _, q3 = quartiles(values)
        out.update(q1=q1, q3=q3, spread=spread(values) if out["median"]
                   else None)
    return out


def summarize(records: list[dict]) -> dict:
    report: dict = {}
    for wl in sorted({r["workload"] for r in records}):
        plain = [r for r in records if r["workload"] == wl and not r["trace"]]
        traced = [r for r in records if r["workload"] == wl and r["trace"]]
        entry: dict = {"runs": len(plain), "seeds": [r["seed"] for r in plain],
                       "all_correct": all(r["correct"] for r in plain),
                       "error_ratio": [r["error_ratio"] for r in plain],
                       "host.steal_s": [r["window"]["host.steal_s"]
                                        for r in plain]}
        if plain:
            entry["end_to_end"] = {
                k: _summary([r["e2e"][k] for r in plain])
                for k in plain[0]["e2e"]}
        if traced:
            counts = [[(op["kind"], op.get("jobs"), op.get("stages"),
                        op.get("tasks")) for op in r["ops"] if not op["warm"]]
                      for r in traced]
            entry["traced"] = {
                "seeds": [r["seed"] for r in traced],
                "op_counts": counts,
                "op_counts_identical": all(c == counts[0] for c in counts),
                "per_layer": {k: [r["per_layer"][k] for r in traced]
                              for k in traced[0]["per_layer"]},
                "overhead": {
                    k: (median([r["e2e"][k] for r in traced])
                        / entry["end_to_end"][k]["median"] - 1.0)
                    for k in traced[0]["e2e"]} if plain else None,
            }
        report[wl] = entry
    return report


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("records", nargs="+")
    p.add_argument("--out")
    args = p.parse_args(argv)
    records = []
    for path in args.records:
        with open(path) as fh:
            records.append(json.load(fh))
    report = summarize(records)
    for wl, entry in report.items():
        print(f"== {wl}: {entry['runs']} untraced runs, "
              f"steal_s {entry['host.steal_s']}")
        for k, s in entry.get("end_to_end", {}).items():
            print(f"  {k:28s} median {s['median']:12.4f}  "
                  f"spread {s.get('spread') or 0:.4f}")
        traced = entry.get("traced", {})
        if traced:
            print(f"  traced seeds {traced['seeds']}: per-op job/stage/task "
                  f"counts identical: {traced['op_counts_identical']}")
        for k, v in (traced.get("overhead") or {}).items():
            print(f"  overhead {k:28s} {v:+.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
