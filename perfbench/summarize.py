#!/usr/bin/env python3
"""Summarize the trace of traced benchmark runs.

    python3 perfbench/summarize.py [result.json ...]

With no argument it reads every traced run left under
.bench_build/perfbench/runs/ (run.py --trace 1 keeps the last one). For
each workload and layer it prints the median self time, the driver-only
time against executor CPU time, and the job/task/byte counts; for each
traced op the unattributed remainder (the op's wall minus the time its
layer spans cover); and the tracing overhead (median traced op minus
median untraced op of the same run).

It exits non-zero if a child span lies outside its parent or the layer
spans of an op cover more than the op's measured wall time.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def summarize(path):
    res = json.load(open(path))
    if not res["trace"]:
        return 0
    errors = metrics.containment_errors(res)
    _, by_name = metrics.timed_spans(res)
    print("== %s (seed %d) — %s" % (res["workload"], res["seed"], path))
    print("%-46s %5s %9s %9s %9s %6s %7s %11s %11s %11s" % (
        "layer", "n", "self_ms", "driver_ms", "cpu_ms", "jobs", "tasks",
        "shuffle_B", "input_B", "output_B"))
    ops = set(metrics.OP_SPAN.values())
    for name in sorted(by_name, key=lambda n: (n in ops, n)):
        sts = by_name[name]
        m = {k: metrics.median([s[k] for s in sts]) for k in
             ("self_ms", "driver_ms", "exec_cpu_ms", "jobs", "tasks", "shuffle_bytes",
              "input_bytes", "output_bytes")}
        print("%-46s %5d %9.1f %9.1f %9.1f %6.0f %7.0f %11.0f %11.0f %11.0f" % (
            name, len(sts), m["self_ms"], m["driver_ms"], m["exec_cpu_ms"], m["jobs"],
            m["tasks"], m["shuffle_bytes"], m["input_bytes"], m["output_bytes"]))
    print("per traced op: measured wall = layer self times + unattributed")
    for b in metrics.op_breakdown(res):
        layers = sum(b["layers"].values())
        if b["unattributed_ms"] < 0:
            errors.append("op %d: layer spans (%.3f ms) exceed the op's wall (%.3f ms)" % (
                b["op"], layers, b["wall_ms"]))
        print("  op %-5d wall %9.1f ms = layers %9.1f ms + unattributed %7.1f ms" % (
            b["op"], b["wall_ms"], layers, b["unattributed_ms"]))
    traced = [o["wall_ms"] for o in res["ops"] if o["traced"]]
    untraced = [o["wall_ms"] for o in res["ops"] if not o["traced"]]
    print("tracing overhead: traced op p50 %.1f ms - untraced op p50 %.1f ms = %.1f ms" % (
        metrics.median(traced), metrics.median(untraced),
        metrics.median(traced) - metrics.median(untraced)))
    for e in errors:
        print("ERROR " + e)
    return 1 if errors else 0


def main(paths):
    if not paths:
        paths = sorted(glob.glob(os.path.join(HERE, "..", ".bench_build", "perfbench",
                                              "runs", "*", "result.json")))
    if not paths:
        print("no run records found; run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 2
    return max(summarize(p) for p in paths)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
