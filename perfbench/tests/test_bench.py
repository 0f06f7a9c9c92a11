"""The benchmark's own tests: the percentile rule, the oracle comparator,
the result line and the seeded generator.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

TINY = {"users": 40, "rows": 600, "parts": 2, "appended_rows": 60}
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):

    def test_p75_needs_ten_samples_beyond_it(self):
        enough = list(range(40))
        self.assertEqual(stats.p75(enough), 29)
        with self.assertRaises(stats.TooFewSamples):
            stats.p75(enough[:-1])
        with self.assertRaises(stats.TooFewSamples):
            stats.p75([])

    def test_p90_refuses_fewer_than_ten_beyond(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(stats.percentile(xs, 90, min_beyond=10), 89.0)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(xs[:99], 90, min_beyond=10)

    def test_sample_count_is_reported(self):
        # The count rides with the metric into summary.json; the result
        # line holds exactly value and unit.
        m = stats.metric(12.5, "ms", 40)
        self.assertEqual(m["n"], 40)
        line = json.loads(stats.final_line(True, 3, 0, {"latency_p75_ms": m}))
        self.assertEqual(line["metrics"]["latency_p75_ms"], {"value": 12.5, "unit": "ms"})

    def test_line_values_are_floats_with_all_digits(self):
        line = json.loads(stats.final_line(True, 3, 0, {
            "ok_ratio": stats.metric(1, "ratio", 3),
            "rtt_ms": stats.metric(0.1 + 0.2, "ms", 3)}))
        self.assertIsInstance(line["metrics"]["ok_ratio"]["value"], float)
        self.assertEqual(line["metrics"]["rtt_ms"]["value"], 0.1 + 0.2)


class OracleComparator(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.dirs = gen.generate(TINY, 7, os.path.join(cls.tmp, "data"))
        cls.q = {"conditions": [{"filters": [["event_type", "==", "view"]],
                                 "target": ["count", ">=", 1]}],
                 "aggregations": [{"column": "props", "type": "countPerValue", "top": 3}]}
        cls.answers = oracle.compute(cls.dirs, [cls.q], 1)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def response(self, answer):
        r = dict(answer)
        r["stats"] = {"wallTimeMs": 5, "plan": "window", "cached": True}
        return json.dumps(r)

    def test_right_answer_passes(self):
        want = self.answers["v1"][0]
        self.assertIsNone(oracle.compare(self.response(want), want))

    def test_planted_wrong_answer_is_flagged(self):
        want = self.answers["v1"][0]
        wrong = json.loads(json.dumps(want))
        wrong["query"]["matchingGroups"] += 1
        self.assertIsNotNone(oracle.compare(self.response(wrong), want))

    def test_top_k_order_is_compared(self):
        want = self.answers["v1"][0]
        wrong = json.loads(json.dumps(want))
        values = wrong["query"]["aggregations"][0]["values"]
        self.assertGreater(len(values), 1)
        wrong["query"]["aggregations"][0]["values"] = dict(reversed(list(values.items())))
        self.assertIsNotNone(oracle.compare(self.response(wrong), want))

    def test_stale_version_answer_is_flagged(self):
        v1, v2 = self.answers["v1"][0], self.answers["v2"][0]
        self.assertNotEqual(v1, v2)
        self.assertIsNotNone(oracle.compare(self.response(v1), v2))

    def test_unparseable_response_is_flagged(self):
        self.assertIsNotNone(oracle.compare("not json", self.answers["v1"][0]))


class ResultLine(unittest.TestCase):

    def test_every_metric_fits_under_the_cap(self):
        with open(BENCHMARK) as f:
            bench = json.load(f)
        for group in ("end_to_end", "per_layer"):
            metrics = {m["name"]: stats.metric(12345.678901234567, m["unit"], 99999)
                       for m in bench[group]}
            line = stats.final_line(True, 123456, 0, metrics)
            self.assertLess(len(line.encode()), stats.LINE_CAP)
            parsed = json.loads(line)
            self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(parsed["metrics"]), set(metrics))

    def test_line_carries_the_benchmark_per_layer_set(self):
        with open(BENCHMARK) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(names, layers.LINE_PER_LAYER)

    def test_oversized_line_is_refused(self):
        metrics = {"m%03d" % i: stats.metric(1.0, "ms", 1) for i in range(200)}
        with self.assertRaises(ValueError):
            stats.final_line(True, 1, 0, metrics)


class Generator(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        tmp = tempfile.mkdtemp()
        try:
            a = gen.generate(TINY, 3, os.path.join(tmp, "a"))
            b = gen.generate(TINY, 3, os.path.join(tmp, "b"))
            c = gen.generate(TINY, 4, os.path.join(tmp, "c"))
            for v in ("v1", "v2"):
                self.assertEqual(gen.digest(a[v]), gen.digest(b[v]))
                self.assertNotEqual(gen.digest(a[v]), gen.digest(c[v]))
        finally:
            shutil.rmtree(tmp)

    def test_cache_hit_and_corruption(self):
        tmp = tempfile.mkdtemp()
        try:
            dirs, d, hit = gen.cached(tmp, "w", 1, TINY)
            self.assertFalse(hit)
            dirs2, d2, hit2 = gen.cached(tmp, "w", 1, TINY)
            self.assertTrue(hit2)
            self.assertEqual(d, d2)
            part = os.path.join(dirs["v1"], sorted(os.listdir(dirs["v1"]))[0])
            with open(part, "ab") as f:
                f.write(b"x")
            _, d3, hit3 = gen.cached(tmp, "w", 1, TINY)
            self.assertFalse(hit3)
            self.assertEqual(d, d3)
        finally:
            shutil.rmtree(tmp)


class RequestPlan(unittest.TestCase):

    def test_plan_is_fixed_by_seed(self):
        for w in workloads.WORKLOADS:
            a, b = workloads.plan(w, 5, 25), workloads.plan(w, 5, 25)
            self.assertEqual([workloads.body(q) for q in a["pool"]],
                             [workloads.body(q) for q in b["pool"]])
            self.assertEqual(a["requests"], b["requests"])

    def test_dashboard_bodies_are_distinct(self):
        p = workloads.plan("dashboard_small", 5, 25)
        bodies = [workloads.body(p["pool"][r["q"]]) for r in p["requests"]]
        self.assertEqual(len(bodies), len(set(bodies)))
        warm = {workloads.body(q) for q in p["warmup"] + p["prewarm"]}
        self.assertEqual(len(p["prewarm"]), len(workloads.TEMPLATES))
        self.assertFalse(warm & set(bodies))

    def test_churn_index_sequence_is_seed_independent(self):
        a = workloads.plan("dashboard_churn", 1, 25)["requests"]
        b = workloads.plan("dashboard_churn", 2, 25)["requests"]
        self.assertEqual(a, b)
        self.assertIn({"kind": "register", "version": "v2"}, a)
        self.assertIn({"kind": "register", "version": "v1"}, a)


if __name__ == "__main__":
    unittest.main()
