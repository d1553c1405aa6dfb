#!/usr/bin/env python3
"""Self-test of the warehouse benchmark.

Runs every workload briefly (sf0.001 input, a one-second measured phase)
through warebench/run.py and checks the contract of its output, not the
speed of the program:

- every metric BENCHMARK.json declares carries the unit its name implies;
- a per-layer metric reads 0 only for a layer the workload does not run:
  one measured as null (an empty sample) or not at all fails the run;
- the last stdout line is one JSON object with correct/attempted/failed/
  metrics, outputs checked correct, and every metric BENCHMARK.json
  declares for the mode printed with its unit;
- a traced run writes spans whose parents exist and whose self times are
  non-negative;
- an operation that always fails is counted in `failed` and lowers
  `success_rate`;
- the stream's sinks hold the same rows for the same seed and different
  rows for another seed.

Run from the repository root (takes several minutes):

    python3 warebench/tests/test_selftest.py
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402  (warebench/run.py)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, seed=1, trace=0, extra=()):
    """Run the benchmark; return (result line as dict, stderr)."""
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stderr


# The unit a metric name implies, first match wins; any other name is a count.
NAME_UNITS = (
    (r"rows_per_s(_1core)?$", "1/s"),
    (r"[._]ms(_p\d+)?$", "ms"),
    (r"[._]s$", "s"),
    (r"[._]mb$", "MB"),
    (r"_us_per_row$", "us"),
    (r"(_frac|_rate)$", "frac"),
)


def implied_unit(name):
    for pattern, unit in NAME_UNITS:
        if re.search(pattern, name):
            return unit
    return "count"


class SelfTest(unittest.TestCase):

    def test_units_match_names(self):
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertEqual(m["unit"], implied_unit(m["name"]), m["name"])

    def test_only_layers_not_run_read_zero(self):
        declared = [{"name": n, "unit": "ms"} for n in
                    ("exec.ms", "stream.sink_write_ms", "stream.watermark_lag_ms")]
        not_run = run.NOT_RUN["ads_dashboard"]
        metrics, complete = run.collect(declared, {"exec.ms": 5.0}, not_run)
        self.assertTrue(complete)
        self.assertEqual(metrics["stream.sink_write_ms"]["value"], 0)
        _, complete = run.collect(declared, {"exec.ms": None}, not_run)
        self.assertFalse(complete)
        _, complete = run.collect(declared, {"stream.sink_write_ms": None}, not_run)
        self.assertFalse(complete)
        _, complete = run.collect(declared, {}, run.NOT_RUN["stream_topology"])
        self.assertFalse(complete)

    def assert_record(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertGreaterEqual(res["attempted"], 1)
        for m in declared:
            got = res["metrics"].get(m["name"])
            self.assertIsNotNone(got, f"metric {m['name']} missing")
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
        self.assertEqual(len(res["metrics"]), len(declared))

    def assert_spans(self, stderr):
        path = re.search(r"spans written to (\S+)", stderr).group(1)
        with open(path) as f:
            spans = json.load(f)
        self.assertTrue(spans)
        ids = {s["id"] for s in spans}
        for s in spans:
            self.assertTrue(s["parent"] == -1 or s["parent"] in ids, s)
            self.assertGreaterEqual(s["self_ms"], 0, s)
            self.assertGreaterEqual(s["end_ms"], s["start_ms"], s)
        # below the roots: spans at a layer boundary with their children
        self.assertTrue(any(s["parent"] != -1 for s in spans))

    def test_ads_dashboard(self):
        res, _ = bench("ads_dashboard")
        self.assert_record(res, SPEC["end_to_end"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(res["metrics"]["success_rate"]["value"], 1)

    def test_ads_dashboard_traced(self):
        res, err = bench("ads_dashboard", trace=1)
        self.assert_record(res, SPEC["per_layer"])
        self.assertGreater(res["metrics"]["exec.jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["store.dwd.build_ms"]["value"], 0)
        self.assert_spans(err)

    def test_failing_operation_counts(self):
        res, _ = bench("ads_dashboard", extra=("--inject-failure", "1"))
        self.assertGreaterEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["success_rate"]["value"], 1)
        self.assertAlmostEqual(res["metrics"]["success_rate"]["value"],
                               1 - res["failed"] / res["attempted"])

    def test_stream_topology(self):
        digest = lambda err: re.search(r"stream sink digest (\w+)", err).group(1)
        res, err = bench("stream_topology", seed=5)
        self.assert_record(res, SPEC["end_to_end"])
        traced, err_traced = bench("stream_topology", seed=5, trace=1)
        self.assert_record(traced, SPEC["per_layer"])
        self.assertGreater(traced["metrics"]["stream.batches"]["value"], 0)
        self.assertGreater(traced["metrics"]["stream.rows_per_s_1core"]["value"], 0)
        self.assert_spans(err_traced)
        self.assertEqual(digest(err), digest(err_traced))
        _, err_other = bench("stream_topology", seed=6)
        self.assertNotEqual(digest(err), digest(err_other))


if __name__ == "__main__":
    unittest.main(verbosity=2)
