"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workload NAME ...] [--out FILE]

Runs the benchmark ``--runs`` times per workload, each with another seed
(1..runs), and reports per metric the median and the distance between the
first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound from BENCHMARK.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace=0):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    res = json.loads(last) if last.startswith("{") else None
    if proc.returncode != 0 or not res or not res["correct"]:
        raise RuntimeError("run %s seed %d failed (rc %d): %s"
                           % (workload, seed, proc.returncode,
                              proc.stderr[-2000:]))
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else float("inf")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "runs": a.runs,
              "workloads": {}}
    for w in names:
        t0 = time.monotonic()
        vals, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            s0 = time.monotonic()
            res = one_run(w, seed, bench["run_seconds"])
            walls.append(time.monotonic() - s0)
            for name, m in res["metrics"].items():
                vals.setdefault(name, []).append(m["value"])
        rows = {n: dict(spread(v), bound=bounds[n], values=v)
                for n, v in vals.items()}
        report["workloads"][w] = {"metrics": rows, "wall_s": walls,
                                  "total_s": time.monotonic() - t0}
        for n, r in rows.items():
            print("%-14s %-18s median %12.4f  iqr/median %.4f  bound %.2f%s"
                  % (w, n, r["median"], r["iqr_share"], r["bound"],
                     "" if r["iqr_share"] <= r["bound"] / 3 else "  WIDE"))
        print("%-14s mean wall per run %.1f s" % (w, statistics.mean(walls)))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
