#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 18 --trace 0

Run from the repository root. The first run builds the program (see
build.py). Each run generates its inputs from --seed (gen.py), starts
one JVM that sets up the workload and drives it as a closed loop for
--seconds (scala/perfbench/Main.scala), then checks every op's output
against the generator's ground truth or DuckDB and derives the metrics
(metrics.py). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The line before it is a detail object with the workload's own metric
names, the box state and the session config; the full record of the
run (ops, spans, jobs) stays in .bench_build/perfbench/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("daily_etl", "corpus_dedup")
# days bulk-loaded before the first daily run: one correction window
HISTORY = gen.CORR_WINDOW
# the same flags spark-submit injects on JDK 17 (see build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap():
    """JVM heap sized from MemTotal as the repo's tier-1 test command sizes it:
    half of RAM in GiB, clamped to 2..8."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return "%dg" % max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def generate(workload, seed, seconds, in_dir):
    # more days or batches than set-up and the loop can use: an op takes
    # well over half a second
    extra = 30 + int(seconds * 2)
    if workload == "corpus_dedup":
        gen.gen_corpus(in_dir, seed, batches=extra)
    else:
        gen.gen_weather(in_dir, seed, days=HISTORY + extra, first_corrected=HISTORY)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run stops its JVM too (the except clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        build.build()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    import metrics  # noqa: E402  (needs duckdb; imported after the build check)

    # the last run of each workload and mode is kept for summarize.py
    run_dir = os.path.join(build.OUT, "runs", "%s-trace%d" % (a.workload, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
    for d in (in_dir, work_dir, os.path.join(work_dir, "tmp")):
        os.makedirs(d)
    out_json = os.path.join(run_dir, "result.json")

    launch = time.time()
    cmd = (["java", "-Xmx" + heap(), "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"),
            # a fixed young generation, so collections (and with them the
            # samples of each op's peak heap) come at a steady rate of
            # allocation; no shrinking after the full collection before
            # each op, so the heap the program runs in is not reset
            "-Xmn256m", "-XX:MaxHeapFreeRatio=100",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main", a.workload, in_dir,
              work_dir, str(a.seconds), str(a.trace), str(a.seed), out_json])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        # inputs are generated while the JVM and Spark start
        generate(a.workload, a.seed, a.seconds, in_dir)
        open(os.path.join(in_dir, "READY"), "w").close()
        gen_s = time.time() - launch
        rc = jvm.wait(timeout=150)
    except BaseException:
        jvm.kill()
        jvm.wait()
        raise
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        print("perfbench: JVM exited with %d" % rc, file=sys.stderr)
        return 1
    with open(out_json) as f:
        res = json.load(f)
    res["launch_ms"] = launch * 1000
    res["generate_s"] = gen_s
    detail, final = metrics.evaluate(res, in_dir)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
