"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM driver from source if needed, generates the
workload's inputs from the seed, runs the workload as a closed loop with
one client for ``--seconds`` seconds (operations that straddle the end
run to completion), checks the outputs and prints one metric a line,
then one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate traced run
that reports the per-layer metrics. A failed output check exits non-zero
and names the check. Everything the run writes stays under
``.bench_build/`` in the checkout.
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
RUN_DIR = os.path.join(ROOT, ".bench_build", "run")
DEADLINE_S = 170.0

# Sizes per workload; recorded with every traced record in perfbench/records.
WORKLOADS = {
    "ingest_bulk": {"replicas_per_op": 1, "max_ops": 30, "warmup_pages": 24,
                    "max_in_flight": 4, "service_ms": 5, "fail_permille": 20},
    "ep2_sweep": {"replicas": 1200, "shift_classes": 10, "max_ops": 20,
                  "first_day": "2024-09-30",
                  "user_id_stride": gen.USER_ID_STRIDE},
    "store_churn": {"init_docs": 1000, "write_docs": 250, "probe_docs": 100,
                    "dup_share": 0.1, "init_vecs": 1000, "write_vecs": 200,
                    "queries": 16, "top_k": 10, "max_ops": 10},
}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"),
              ("throughput_per_s", "1/s"), ("rss_peak_mb", "MB")]

PER_LAYER = [
    ("enrich.calls", "count"), ("enrich.span_s", "s"),
    ("enrich.service_s", "s"), ("enrich.mean_in_flight", "count"),
    ("enrich.peak_in_flight", "count"), ("enrich.retries", "count"),
    ("enrich.dead_letters", "count"), ("stub.handle_ms_per_call", "ms"),
    ("stub.peak_busy_threads", "count"),
    ("pipeline.crops_s", "s"), ("pipeline.detected_s", "s"),
    ("text.names", "count"), ("text.correct_s", "s"),
    ("price.texts", "count"), ("price.parse_s", "s"),
    ("sinks.upsert_s", "s"), ("sinks.upsert_jobs", "count"),
    ("sinks.store_files", "count"), ("sinks.store_bytes", "bytes"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.latest_offset_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("validity.sweep_s", "s"), ("validity.changed_rows", "count"),
    ("validity.apply_s", "s"), ("validity.propagate_s", "s"),
    ("notify.send_s", "s"), ("notify.rows", "count"),
    ("notify.batches", "count"), ("alerts.s", "s"), ("alerts.rows", "count"),
    ("dedup.write_s", "s"), ("dedup.write_jobs", "count"),
    ("dedup.read_s", "s"), ("dedup.read_jobs", "count"),
    ("ann.write_s", "s"), ("ann.write_jobs", "count"),
    ("ann.read_s", "s"), ("ann.read_jobs", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.in_jobs_s", "s"),
    ("spark.driver_gap_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("catalyst.actions", "count"), ("catalyst.planning_s", "s"),
    ("trace.op_p50_s", "s"),
]

# Same flags Spark's launcher passes to a JDK 17 driver.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(code)


def end_to_end(rec):
    ops = rec["ops"]
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": stats.median(stats.op_latencies(ops)),
        "throughput_per_s": stats.throughput(ops),
        "rss_peak_mb": rec["rss_peak_kb"] / 1024.0,
    }


def per_layer(rec):
    names = [n for n, _ in PER_LAYER if n != "trace.op_p50_s"]
    out = stats.layer_medians(rec["layers"], names)
    out["trace.op_p50_s"] = stats.median(stats.op_latencies(rec["ops"]))
    return out


def run_jvm(classes, args, work, budget_s):
    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: it would land in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "%s=ALL-UNNAMED" % p]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.driver.host=127.0.0.1",
            "-cp", build.classpath(classes), "perfbench.Main"] + args + [
                str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.monotonic()

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        fail("cannot build the engine: %s" % e)

    work = os.path.join(RUN_DIR, "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    gen.generate(ROOT, a.workload, a.seed, WORKLOADS[a.workload], inputs)
    result = os.path.join(work, "result.json")
    rc = run_jvm(classes, [a.workload, inputs, os.path.join(work, "data"),
                           result, repr(a.seconds), str(a.trace),
                           str(a.seed)],
                 work, DEADLINE_S - (time.monotonic() - started))
    if rc is None:
        fail("the run exceeded %.0f s; log: %s" % (DEADLINE_S, work), 1)
    if not os.path.exists(result):
        fail("the JVM exited with %s and no result; log: %s/jvm.log"
             % (rc, work), 1)
    with open(result) as f:
        rec = json.load(f)
    # keep the raw record and log, drop the bulky inputs and stores
    for d in ("input", "data", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    attempted, failed = stats.failure_counts(rec["ops"])
    check = rec.get("failed_check")
    correct = check is None and rc == 0
    if check is not None:
        print("perfbench: FAILED CHECK %s (log: %s/jvm.log)" % (check, work),
              file=sys.stderr)
    metrics = {}
    if correct:
        values = per_layer(rec) if a.trace else end_to_end(rec)
        for name, unit in (PER_LAYER if a.trace else END_TO_END):
            if not math.isfinite(values[name]):
                # only possible when most operations failed
                print("perfbench: %s is not finite" % name, file=sys.stderr)
                correct = False
            metrics[name] = {"value": values[name], "unit": unit}
            print("%-28s %16.6f %s" % (name, values[name], unit))
        if not correct:
            metrics = {}
    tail = stats.tail_percentile(attempted)
    print("%-28s %16s (of %d operations)" % (
        "op_tail_percentile", "p%d" % tail if tail else "none", attempted))
    print("%-28s %16d count" % ("attempted", attempted))
    print("%-28s %16d count" % ("failed", failed))
    if a.trace:
        for name, row in sorted(stats.span_summary(rec["spans"]).items()):
            print("span %-23s n=%-4d total=%.4fs self=%.4fs"
                  % (name, row["count"], row["total_s"], row["self_s"]))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
