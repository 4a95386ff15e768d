"""Each output check of the benchmark fires when an expected value is
altered. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402

# A consistent storm run: 1000 sent, 10 planted malformed lines.
STORM = {
    "sent": 1000, "planted": 10, "consumed": 1000, "good": 990, "poison": 10,
    "stream_hash": "-123456789012345678901", "batch_hash": "-123456789012345678901",
    "batch_good": 990, "batch_poison": 10,
    "metrics_consumed": 1000, "metrics_produced": 990, "metrics_errors": 10,
    "sink_calls": 7, "data_batches": 7,
}


def names(problems):
    return {p[0] for p in problems}


class StormChecks(unittest.TestCase):
    def test_consistent_run_passes(self):
        self.assertEqual(checks.storm(STORM), [])

    def altered(self, **fields):
        c = copy.deepcopy(STORM)
        c.update(fields)
        return names(checks.storm(c))

    def test_conservation_fires(self):
        self.assertIn("conservation", self.altered(sent=1001))
        self.assertIn("conservation", self.altered(consumed=999))

    def test_poison_count_fires(self):
        self.assertIn("poison", self.altered(planted=11))
        self.assertIn("poison", self.altered(batch_poison=9))

    def test_metrics_agreement_fires(self):
        self.assertEqual(self.altered(metrics_consumed=999), {"metrics"})
        self.assertEqual(self.altered(metrics_produced=991), {"metrics"})
        self.assertEqual(self.altered(metrics_errors=0), {"metrics"})

    def test_stream_equals_batch_fires(self):
        self.assertEqual(self.altered(batch_hash="-123456789012345678900"),
                         {"stream_batch"})
        self.assertEqual(self.altered(batch_good=989), {"stream_batch"})

    def test_one_sink_call_per_batch_fires(self):
        self.assertEqual(self.altered(sink_calls=6), {"batches"})

    def test_failed_counts_against_attempted(self):
        c = dict(STORM, planted=12)
        attempted, failed, _ = checks.verdict("storm_backlog", {"checks": c}, {})
        self.assertEqual((attempted, failed), (1000, 2))


class AnalyticsChecks(unittest.TestCase):
    RUNS = [{"name": "q1", "pass": 1, "rows": 4, "hash": "17", "error": ""},
            {"name": "q2", "pass": 1, "rows": 0, "hash": "0", "error": ""}]
    EXPECTED = {"q1": {"rows": 4, "hash": "17"}, "q2": {"rows": 0, "hash": "0"}}

    def test_matching_runs_pass(self):
        self.assertEqual(checks.analytics(self.RUNS, self.EXPECTED), [])

    def test_altered_row_count_fires(self):
        exp = dict(self.EXPECTED, q1={"rows": 5, "hash": "17"})
        self.assertEqual(names(checks.analytics(self.RUNS, exp)), {"q1"})

    def test_altered_hash_fires(self):
        exp = dict(self.EXPECTED, q2={"rows": 0, "hash": "1"})
        self.assertEqual(names(checks.analytics(self.RUNS, exp)), {"q2"})

    def test_missing_expected_value_fires(self):
        exp = {"q1": self.EXPECTED["q1"]}
        self.assertEqual(names(checks.analytics(self.RUNS, exp)), {"q2"})

    def test_failed_query_fires(self):
        runs = copy.deepcopy(self.RUNS)
        runs[0].update(rows=-1, hash="", error="boom")
        attempted, failed, _ = checks.verdict(
            "analytics_sf0.01", {"checks": {"runs": runs}}, self.EXPECTED)
        self.assertEqual((attempted, failed), (2, 1))

    def test_committed_expected_file_covers_the_query_list(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)["queries"]
        for q in run.CARRIED:
            self.assertIn(q, expected)
        self.assertGreaterEqual(len(expected), 2 * len(run.FAMILIES))


class MetricList(unittest.TestCase):
    def test_benchmark_json_matches_the_emitted_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, set(run.END_TO_END))
        self.assertEqual([m["name"] for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        for m in bench["end_to_end"] + bench["per_layer"]:
            want = run.END_TO_END.get(m["name"]) or run.unit(m["name"])
            self.assertEqual(m["unit"], want, m["name"])


if __name__ == "__main__":
    unittest.main()
