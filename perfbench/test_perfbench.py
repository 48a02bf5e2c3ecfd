"""The benchmark's own tests (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        out = tempfile.mkdtemp()
        docs = gen.make_tables(f"{out}/t", rows=1200)
        gen.make_jobs(f"{out}/j", docs, seed, n_batch=300, n_incr=40,
                      incr_batches=2, new_share=0.5)
        return out

    def test_same_seed_same_bytes(self):
        a, b = self.generate(7), self.generate(7)
        self.assertEqual(tree_digest(f"{a}/t"), tree_digest(f"{b}/t"))
        self.assertEqual(tree_digest(f"{a}/j"), tree_digest(f"{b}/j"))

    def test_seed_changes_the_feed(self):
        a, b = self.generate(7), self.generate(8)
        self.assertNotEqual(tree_digest(f"{a}/j"), tree_digest(f"{b}/j"))

    def test_feed_quirks_and_skew(self):
        out = self.generate(3)
        recs = [json.loads(line) for line in open(f"{out}/j/raw_jobs.json", encoding="utf-8")]
        man = json.load(open(f"{out}/j/manifest.json"))
        types = {r["job_employment_type"] for r in recs}
        self.assertIn("Full–time", types)                     # en dash
        self.assertIn(None, types)
        self.assertTrue(any(isinstance(r["job_highlights"], dict) for r in recs))
        self.assertTrue(any(r["job_posted_at"] == "yesterday" for r in recs))
        self.assertTrue(any(r["job_posted_at"].endswith("hours ago") for r in recs))
        self.assertLess(man["expected"]["dim_company"], len(recs) / 3)
        self.assertLess(man["expected"]["dim_location"], len(recs) / 2)
        self.assertEqual(man["incr_new_key_share"], 0.5)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, p in [(100, 90), (200, 95), (1000, 99), (50, 80), (21, 52), (20, 100),
                     (5, 100)]:
            self.assertEqual(metrics.tail_percentile(n), p, n)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in range(21, 400, 7):
            vals = list(range(n))
            v = metrics.percentile(vals, metrics.tail_percentile(n))
            self.assertGreaterEqual(sum(1 for x in vals if x > v), 10, n)

    def test_short_runs_report_the_slowest_sample(self):
        self.assertEqual(metrics.percentile([3, 9, 4], metrics.tail_percentile(3)), 9)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(metrics.percentile(list(range(1, 101)), 90), 90)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_nested(self):
        s = [self.span("w", "", 0, 100), self.span("q", "w", 10, 60),
             self.span("j", "q", 20, 40), self.span("st", "j", 25, 35)]
        self.assertEqual(metrics.self_times(s), {"w": 50, "q": 30, "j": 10, "st": 10})

    def test_overlapping_children_count_once(self):
        s = [self.span("q", "", 0, 100), self.span("a", "q", 10, 50),
             self.span("b", "q", 30, 70), self.span("c", "q", 90, 130)]
        self.assertEqual(metrics.self_times(s)["q"], 100 - 60 - 10)

    def test_child_contained_in_sibling(self):
        s = [self.span("q", "", 0, 10), self.span("a", "q", 1, 9),
             self.span("b", "q", 2, 3)]
        self.assertEqual(metrics.self_times(s)["q"], 2)


class OverheadTest(unittest.TestCase):
    @staticmethod
    def op(name, latency, traced):
        return {"name": name, "latency_s": latency, "traced": traced, "ok": True}

    def test_geometric_mean_of_twin_ratios(self):
        ops = [self.op("a", 1.21, True), self.op("a", 1.0, False),
               self.op("b", 1.0, True), self.op("b", 1.0, False)]
        self.assertAlmostEqual(metrics.overhead(ops), 0.1)

    def test_order_effects_cancel(self):
        # Whichever twin runs second is 20% faster; tracing costs nothing.
        ops = [self.op("a", 1.0, True), self.op("a", 0.8, False),
               self.op("b", 0.8, True), self.op("b", 1.0, False)]
        self.assertAlmostEqual(metrics.overhead(ops), 0.0)

    def test_no_twin_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.overhead([self.op("a", 1.0, True)])


class MetricNamesTest(unittest.TestCase):
    def fake_raw(self):
        spans = [
            {"id": "op:0", "kind": "op", "name": "q1", "parent": "workload", "start": 0, "end": 50},
            {"id": "op:0/build", "kind": "phase", "name": "build", "parent": "op:0",
             "start": 0, "end": 10},
            {"id": "job:0", "kind": "job", "name": "job 0", "parent": "op:0/build",
             "start": 2, "end": 8},
            {"id": "stage:0.0", "kind": "stage", "name": "stage 0", "parent": "job:0",
             "start": 3, "end": 7, "tasks": 2, "task_ms": 6, "run_ms": 5, "cpu_ns": 4000000,
             "deser_ms": 1, "gc_ms": 0, "shuffle_w": 10, "shuffle_r": 10, "spill": 0,
             "in_bytes": 100, "in_rows": 10}]
        op = {"name": "q1", "kind": "query", "ok": True, "latency_s": 0.05, "build_s": 0.01,
              "drain_s": 0.001, "tracked": 0, "traced": True}
        return {
            "cpus": 4, "setup_s": 10.0, "loop_s": 1.0, "passes": 1,
            "unit_wall_s": 1.0, "loop_cpu_s": 2.0, "peak_rss_mb": 900.0,
            "ops": [op, dict(op, latency_s=0.04, traced=False)],
            "extra": {"bytes_written": 250},
            "trace": {"spans": spans, "plans": [{"start": 0, "analysis_ms": 1,
                                                 "optimization_ms": 1, "planning_ms": 1}]}}

    def test_printed_metrics_match_benchmark_json(self):
        bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        raw = self.fake_raw()
        e2e, _ = metrics.end_to_end(raw)
        layer = metrics.per_layer(raw, {"batch_rows": 10, "batch_bytes": 100,
                                        "incr_rows": 10, "incr_batches": 2})
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        self.assertEqual({k: u for k, (_, u) in layer.items()},
                         {m["name"]: m["unit"] for m in bench["per_layer"]})


if __name__ == "__main__":
    unittest.main()
