#!/usr/bin/env python3
"""Benchmark entry point.

    python3 pdfbench/run.py --workload adaptive_learn --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the workload's inputs from the seed,
measures for about ``--seconds`` seconds, checks every timed query's output
and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics named in
BENCHMARK.json, or with ``--trace 1`` its per-layer metrics. The line
before it records the machine. See NOTES.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        from pdfbench import layers, machine, trace, workloads
    except ImportError as exc:
        print(f"cannot import the program under {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    control_s = machine.control_loop_s()
    b = workloads.Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        with machine.PeakRss() as b.rss:
            try:
                b.start_session()
                workloads.WORKLOADS[args.workload](b)
            finally:
                b.stop_session()
        if args.trace:
            metrics = layers.per_layer(b, trace.EventLog(b.path("eventlog")), control_s)
        else:
            metrics = layers.end_to_end(b)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.cleanup()

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        # a layer the workload never enters reads 0
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0) if args.trace
                                else metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    for problem in b.problems:
        print(f"check failed: {problem}", file=sys.stderr)
    print(json.dumps({"machine": {"nproc": b.nproc, "spark_parallelism": b.cpus,
                                  "control_loop_s": control_s}}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
