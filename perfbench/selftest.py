"""Self-test of the benchmark harness; needs no Spark and runs in seconds.

    python3 perfbench/selftest.py

Covers the percentile, quartile and pair-win arithmetic, the end-to-end
and per-layer metric assembly, and the agreement between the metric names
the workloads produce and the ones ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import unittest
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


class Arithmetic(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(harness.percentile([3.0], 75), 3.0)
        self.assertEqual(harness.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(harness.percentile([1, 2, 3], 75), 2.5)
        self.assertEqual(harness.percentile([1, 2, 3, 4, 5], 100), 5)
        with self.assertRaises(ValueError):
            harness.percentile([], 50)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(harness.quartile_spread(xs), (q3 - q1) / med)
        self.assertEqual(harness.quartile_spread([2.0] * 10), 0.0)

    def test_pair_win_counts_ties_for_neither(self):
        self.assertEqual(harness.pair_win_frac([1, 2, 3, 4], [2, 2, 1, 5]), 0.5)
        with self.assertRaises(ValueError):
            harness.pair_win_frac([1], [1, 2])

    def test_overhead_is_ratio_of_medians(self):
        self.assertAlmostEqual(harness.overhead_frac([1.0, 2.0, 3.0], [1.1, 2.2, 3.3]), 0.1)

    def test_rate_counts_untraced_cpu_seconds(self):
        log = harness.OpLog()
        log.add("append", 9.0, 2.0, 100, False)
        log.add("append", 9.0, 2.0, 100, True)  # traced: not in end-to-end figures
        log.add("search", 9.0, 3.0, 16, False)
        self.assertEqual(log.rate("append"), 50.0)
        self.assertEqual(log.rate("search"), 16 / 3.0)

    def test_pairs_match_by_occurrence(self):
        log = harness.OpLog()
        for s, traced in [(1.0, False), (1.2, True), (2.0, False), (2.1, True), (3.0, False)]:
            log.add("x", s / 2, s, 1, traced)
        self.assertEqual(log.pairs(), ([1.0, 2.0], [1.2, 2.1]))


class Tracing(unittest.TestCase):
    def test_disabled_tracer_records_nothing(self):
        t = harness.Tracer()
        self.assertEqual(t.call("a.b_s", lambda: 7), 7)
        t.count("a.n")
        self.assertEqual((t.spans, dict(t.samples), dict(t.counters)), ([], {}, {}))

    def test_spans_nest_under_the_operation(self):
        t = harness.Tracer()
        t.enabled = True
        with t.op("search", 3):
            t.call("bm25.search_small_s", lambda: None)
        root, leaf = t.spans
        self.assertEqual((root["name"], root["parent"], root["op"]), ("op.search", None, 3))
        self.assertEqual((leaf["parent"], leaf["op"]), (0, 3))
        self.assertLessEqual(root["start"], leaf["start"])
        self.assertLessEqual(leaf["end"], root["end"])
        self.assertEqual(len(t.samples["bm25.search_small_s"]), 1)

    def test_job_counts_land_under_the_prefix(self):
        @contextmanager
        def hook():
            out = {}
            try:
                yield out
            finally:
                out.update(jobs=2, tasks=8)

        t = harness.Tracer(hook)
        t.enabled = True
        t.call("rerank.rerank_s", lambda: None, _jobs="rerank.")
        t.call("runs.attach_text_s", lambda: None)
        self.assertEqual(
            set(t.samples), {"rerank.rerank_s", "rerank.jobs", "rerank.tasks", "runs.attach_text_s"}
        )


class Declarations(unittest.TestCase):
    def setUp(self):
        self.spec = load_spec()
        self.declared = harness.load_declared(SPEC_PATH)

    def test_contract_shape(self):
        spec = self.spec
        self.assertEqual(
            set(spec), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
        )
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(workloads.WORKLOADS))
        self.assertTrue(all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"]))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]))
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_end_to_end_names_as_declared(self):
        for name, roles in workloads.ROLES.items():
            log = harness.OpLog()
            for kind in roles.values():
                log.add(kind, 1.0, 1.5, 10, False)
            values, counts = harness.end_to_end_metrics(log, roles, 80.0, 0.2)
            self.assertEqual(set(values), set(self.declared["end_to_end"]), name)
            self.assertEqual(set(counts), set(values))
            self.assertTrue(all(v > 0 for v in values.values()), name)

    def test_per_layer_names_as_declared(self):
        t = harness.Tracer()
        log = harness.OpLog()
        log.add("x", 0.5, 1.0, 1, False)
        log.add("x", 0.5, 1.1, 1, True)
        values, counts = harness.per_layer_metrics(t, log, self.declared["per_layer"], {})
        self.assertEqual(set(values), set(self.declared["per_layer"]))
        self.assertAlmostEqual(values["tracing.overhead_frac"], 0.1)

    def test_every_layer_name_the_code_records_is_declared(self):
        declared = set(self.declared["per_layer"])
        prefixes = {n.split(".")[0] for n in declared}
        literal = re.compile(r'"((?:%s)\.[A-Za-z0-9_.]+)"' % "|".join(sorted(prefixes)))
        jobs = re.compile(r'_jobs="([^"]+)"')
        for fn in ("workloads.py", "run.py"):
            with open(os.path.join(HERE, fn)) as f:
                src = f.read()
            job_prefixes = set(jobs.findall(src))
            for p in job_prefixes:
                self.assertIn(f"{p}jobs", declared)
            names = set(literal.findall(src)) - job_prefixes
            self.assertTrue(names, fn)
            self.assertFalse(names - declared, f"{fn} records undeclared metrics")

    def test_units_and_names_are_well_formed(self):
        for group in ("end_to_end", "per_layer"):
            for name, unit in self.declared[group].items():
                self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
                self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]+$")


if __name__ == "__main__":
    unittest.main()
