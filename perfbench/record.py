"""Commits one traced per-layer record per workload.

    python3 perfbench/record.py [--seed N] [--workload NAME ...]

For each workload: one untraced run (end-to-end metrics) and two traced
runs (per-layer metrics) on the same seed. The record keeps the sizes,
seed and client count, the traced run's per-layer figures and span self
times, the tracing overhead (traced minus untraced operation median), and
whether the per-call job counts repeated exactly across the two traced
runs. Records land in ``perfbench/records/<workload>.json``.
"""

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spread  # noqa: E402
import stats  # noqa: E402

JOB_COUNTS = ["sinks.upsert_jobs", "dedup.write_jobs", "ann.write_jobs",
              "spark.jobs"]


def raw(workload, seed, trace):
    with open(os.path.join(run.RUN_DIR, "%s-%d-%d" % (workload, seed, trace),
                           "result.json")) as f:
        return json.load(f)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    out_dir = os.path.join(HERE, "records")
    os.makedirs(out_dir, exist_ok=True)
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        e2e = spread.one_run(w, a.seed, seconds, trace=0)["metrics"]
        plain = raw(w, a.seed, 0)
        traced = [spread.one_run(w, a.seed, seconds, trace=1)["metrics"]
                  for _ in range(2)]
        rec = raw(w, a.seed, 1)
        layers = {n: m["value"] for n, m in traced[0].items()}
        n_ops = len(plain["ops"])
        tail = stats.tail_percentile(n_ops)
        doc = {
            "workload": w, "seed": a.seed, "run_seconds": seconds,
            "closed_loop_clients": 1, "sizes": run.WORKLOADS[w],
            "end_to_end": {n: m["value"] for n, m in e2e.items()},
            "operations": n_ops,
            "op_tail": {"percentile": tail, "samples": n_ops},
            "phases_s": plain["phases"],
            "per_layer": layers,
            "tracing_overhead_s": (layers["trace.op_p50_s"]
                                   - e2e["op_p50_s"]["value"]),
            "job_counts_repeat": {
                n: [t[n]["value"] for t in traced] for n in JOB_COUNTS},
            "spans": stats.span_summary(rec["spans"]),
        }
        doc["job_counts_repeat_exactly"] = all(
            v[0] == v[1] for v in doc["job_counts_repeat"].values())
        with open(os.path.join(out_dir, w + ".json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
        print("%s: overhead %.3f s, job counts repeat: %s"
              % (w, doc["tracing_overhead_s"],
                 doc["job_counts_repeat_exactly"]))


if __name__ == "__main__":
    main()
