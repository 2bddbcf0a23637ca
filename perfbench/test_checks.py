"""Self-checks of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run
import trace_report


def result(digests):
    """A run result as the harness JVM writes it: one query op per pass."""
    return {"ops": [{"name": "q01", "pass": k, "s": 1.0, "ok": True, "error": "",
                     "digest": d} for k, d in enumerate(digests)],
            "digests": []}


class OutputChecks(unittest.TestCase):
    def test_matching_digests_pass(self):
        res = result(["5:ab", "5:ab"])
        bad = run.digest_failures(res, {"q01": {".": "5:ab"}})
        self.assertEqual(run.count_failed(res, set(), bad), 0)

    def test_wrong_expected_value_fails_every_op(self):
        res = result(["5:ab", "5:ab"])
        bad = run.digest_failures(res, {"q01": {".": "5:00"}})
        self.assertEqual(run.count_failed(res, set(), bad), 2)

    def test_missing_output_fails(self):
        res = result(["", "5:ab"])
        res["ops"][0]["ok"] = False
        bad = run.digest_failures(res, {"q01": {".": "5:ab"}})
        self.assertEqual(run.count_failed(res, set(), bad), 1)

    def test_wrong_landed_dataset_fails_its_flow(self):
        res = {"ops": [{"name": "corpusFlow", "pass": 0, "s": 1.0, "ok": True,
                        "error": "", "digest": ""}],
               "digests": [{"pass": 0, "flow": "corpusFlow", "dataset": ".", "digest": "9/3"},
                           {"pass": 0, "flow": "corpusFlow", "dataset": "_x", "digest": "1/1"}]}
        good = {"corpusFlow": {".": "9/3", "_x": "1/1"}}
        self.assertEqual(run.count_failed(res, set(), run.digest_failures(res, good)), 0)
        wrong = {"corpusFlow": {".": "9/3", "_x": "2/1"}}
        self.assertEqual(run.count_failed(res, set(), run.digest_failures(res, wrong)), 1)

    def test_oracle_failure_fails_its_ops(self):
        res = result(["5:ab", "5:ab"])
        self.assertEqual(run.count_failed(res, {"q01"}, set()), 2)

    def test_recorded_expected_round_trips(self):
        res = result(["5:ab", "5:ab"])
        self.assertEqual(run.digest_failures(res, run.record_expected(res)), set())


class Metrics(unittest.TestCase):
    def test_benchmark_json_names_every_reported_metric(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.per_layer_units())

    def test_end_to_end_statistics(self):
        res = {"setups_s": [9.0, 2.0, 3.0],
               "passes": [{"wallS": 10.0, "cpuS": 30.0}, {"wallS": 12.0, "cpuS": 34.0}],
               "ops": [{"s": float(i), "ok": True, "pass": i % 2} for i in range(1, 11)],
               "heap_after_gc_gib": [0.1 * i for i in range(1, 12)]}
        e2e = run.end_to_end(res)
        self.assertEqual(e2e["setup_s"], 3.0)
        self.assertEqual(e2e["wall_s"], 11.0)
        self.assertEqual(e2e["op_p50_s"], 5.5)
        self.assertAlmostEqual(e2e["op_p90_s"], 9.1)
        self.assertEqual(e2e["cpu_s"], 32.0)
        self.assertAlmostEqual(e2e["heap_live_peak_gib"], 1.0)


class SelfTime(unittest.TestCase):
    def test_span_layers_per_pass(self):
        spans = [{"id": 1, "parent": 0, "name": "op", "start": 0.0, "end": 4000.0},
                 {"id": 2, "parent": 1, "name": "construct", "start": 0.0, "end": 1000.0},
                 {"id": 3, "parent": 1, "name": "execute", "start": 1000.0, "end": 3000.0},
                 {"id": 4, "parent": 3, "name": "job 7", "start": 1500.0, "end": 2500.0}]
        got = run.span_layers(spans, passes=2)
        self.assertEqual(got["self.op.s"], 0.5)
        self.assertEqual(got["self.execute.s"], 0.5)
        self.assertEqual(got["self.job.s"], 0.5)
        self.assertEqual(got["operators.construct_s"], 0.5)
        self.assertEqual(got["exec.exec_s"], 1.0)
        self.assertEqual(got["plans.plan_s"], 0.0)

    def test_covered_merges_overlaps(self):
        self.assertEqual(trace_report.covered([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
                 {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
                 {"id": 4, "parent": 2, "start": 1.0, "end": 2.0}]
        self.assertEqual(trace_report.self_times(spans), {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0})


if __name__ == "__main__":
    unittest.main()
