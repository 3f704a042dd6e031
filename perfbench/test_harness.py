"""Tests of the benchmark harness itself (no JVM needed).

    python3 perfbench/test_harness.py
"""

import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def op(t0, t1, ok=True, items=1):
    return {"t0": t0, "t1": t1, "ok": ok, "items": items}


class PercentileRule(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.median([7.0]), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertEqual(stats.tail_percentile(20), 52)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in (11, 20, 57, 100, 1000):
            xs = list(range(n))
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(
                sum(x > stats.percentile(xs, p) for x in xs), 10)
            if p < 99:
                self.assertLess(
                    sum(x > stats.percentile(xs, p + 1) for x in xs), 10)


class SpanSelfTime(unittest.TestCase):
    def test_children_merge_and_clip(self):
        spans = [
            {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
            {"id": 1, "name": "a", "start": 1.0, "end": 3.0, "parent": 0},
            {"id": 2, "name": "b", "start": 2.0, "end": 5.0, "parent": 0},
            {"id": 3, "name": "c", "start": 8.0, "end": 12.0, "parent": 0},
            {"id": 4, "name": "d", "start": 2.5, "end": 2.75, "parent": 2},
        ]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 4.0)  # 10 - [1,5] - [8,10]
        self.assertAlmostEqual(selfs[2], 2.75)
        self.assertAlmostEqual(selfs[4], 0.25)
        summary = stats.span_summary(spans)
        self.assertAlmostEqual(summary["op"]["total_s"], 10.0)
        self.assertAlmostEqual(summary["op"]["self_s"], 4.0)


class FailureAccounting(unittest.TestCase):
    def test_failure_never_shortens_a_timing(self):
        ok = [op(0, 2), op(2, 4), op(4, 6)]
        with_fast_failure = ok + [op(6, 6.1, ok=False)]
        self.assertGreaterEqual(
            stats.median(stats.op_latencies(with_fast_failure)),
            stats.median(stats.op_latencies(ok)))
        self.assertEqual(stats.failure_counts(with_fast_failure), (4, 1))

    def test_failed_time_counts_without_items(self):
        ops = [op(0, 1, items=10), op(1, 3, ok=False, items=10)]
        self.assertAlmostEqual(stats.throughput(ops), 10 / 3.0)

    def test_layer_median_reads_zero_for_untouched_layer(self):
        out = stats.layer_medians([{"a": 1.0}, {"a": 3.0}], ["a", "b"])
        self.assertEqual(out, {"a": 2.0, "b": 0.0})


class GeneratorDeterminism(unittest.TestCase):
    def gen_twice(self, workload, seed_a, seed_b):
        scratch = os.path.join(ROOT, ".bench_build", "test")
        os.makedirs(scratch, exist_ok=True)
        dirs = [tempfile.mkdtemp(dir=scratch) for _ in range(3)]
        for d in dirs:
            self.addCleanup(shutil.rmtree, d, True)
        sizes = dict(run.WORKLOADS[workload], max_ops=3)
        if workload == "ep2_sweep":
            sizes["replicas"] = 5
        for d, seed in zip(dirs, (seed_a, seed_a, seed_b)):
            gen.generate(ROOT, workload, seed, sizes, d)
        return dirs

    def same(self, a, b):
        names = sorted(os.listdir(a))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        return not mismatch and not errors

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in sorted(run.WORKLOADS):
            a, b, c = self.gen_twice(w, 7, 8)
            self.assertTrue(self.same(a, b), w)
            self.assertFalse(self.same(a, c), w)

    def read(self, d, name):
        with open(os.path.join(d, name)) as f:
            return [json.loads(line) for line in f]

    def test_replicas_use_disjoint_keys(self):
        a, _, _ = self.gen_twice("ingest_bulk", 1, 2)
        ids = [p["image_id"] for p in self.read(a, "pages.jsonl")]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertTrue(all(i.split("/")[-1].startswith("r") for i in ids))

    def test_ep2_replicates_shops_with_files(self):
        a, _, _ = self.gen_twice("ep2_sweep", 1, 2)
        meta = gen.read_tsv(ROOT, "pipeline_pdf_metadata.tsv")
        per_shop = {}
        for m in meta:
            per_shop[m["shop_name"]] = per_shop.get(m["shop_name"], 0) + 1
        scaled = {}
        for row in self.read(a, "catalog.jsonl"):
            scaled[row["shop_name"]] = scaled.get(row["shop_name"], 0) + 1
        self.assertEqual(len(scaled), 5 * len(per_shop))
        for shop, n in scaled.items():
            self.assertEqual(n, per_shop[shop.rsplit("~", 1)[0]])
        for u in self.read(a, "users.jsonl"):
            r = u["user_id"] // gen.USER_ID_STRIDE
            for s in u["included_shops"] + u["excluded_shops"]:
                self.assertTrue(s.endswith("~%05d" % r), (u, s))


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
