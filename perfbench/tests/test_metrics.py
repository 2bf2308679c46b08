"""Tests of the benchmark's pure logic: the percentile rule, span self time,
the job-interval union behind spark.driver_gap_s, a failed check raising
fail_ratio, and the pattern-to-SQL translation of the count oracle. The
workloads' output checks themselves are tested in
src/test/scala/graftbench/ChecksSpec.scala.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import gen, metrics, oracle  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(metrics.reportable_percentile(100, (90,)), 90)
        self.assertIsNone(metrics.reportable_percentile(99, (90,)))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.reportable_percentile(1000), 99)
        self.assertEqual(metrics.reportable_percentile(999), 95)
        self.assertEqual(metrics.reportable_percentile(200), 95)
        self.assertEqual(metrics.reportable_percentile(150), 90)
        self.assertEqual(metrics.reportable_percentile(20), 50)
        self.assertIsNone(metrics.reportable_percentile(19))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile(range(101), 90), 90)
        self.assertEqual(metrics.percentile([7], 90), 7)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.merge_intervals([(5, 7), (1, 3), (2, 4), (7, 8)]),
                         [(1, 4), (5, 8)])

    def test_driver_gap_is_wall_minus_job_union(self):
        # overlapping jobs count once; a job reaching past the op is clipped
        self.assertEqual(metrics.driver_gap(0, 10, [(1, 3), (2, 4), (6, 7)]), 6)
        self.assertEqual(metrics.driver_gap(0, 10, [(8, 15)]), 8)
        self.assertEqual(metrics.driver_gap(0, 10, []), 10)
        self.assertEqual(metrics.driver_gap(0, 10, [(0, 10), (3, 4)]), 0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = {
            "op": (None, 0, 10),
            "a": ("op", 1, 3),
            "b": ("op", 2, 5),   # overlaps a: the union 1..5 counts once
            "c": ("op", 8, 12),  # reaches past the op: only 8..10 counts
            "a1": ("a", 1, 2),
        }
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 10 - 4 - 2)
        self.assertEqual(st["a"], 1)
        self.assertEqual(st["a1"], 1)
        self.assertEqual(st["c"], 4)

    def test_span_tree_nests_jobs_under_innermost_span(self):
        raw = {"spans": [{"op": 0, "name": "api.sql", "start_us": 0, "end_us": 40},
                         {"op": 0, "name": "action", "start_us": 40, "end_us": 100}],
               "ops": []}
        ops = [{"id": 0, "name": "q", "start_us": 0, "end_us": 100}]
        jobs = {0: [{"job": 7, "start_us": 50, "end_us": 90, "stages": []}]}
        actions = {0: [{"phases": {"analysis": {"start_us": 5, "end_us": 30}}}]}
        tree = metrics.span_tree(raw, ops, jobs, actions)
        self.assertEqual(tree[("job", 7)][0], ("span", 1))
        self.assertEqual(tree[("phase", 0, 0, "analysis")][0], ("span", 0))
        selfs = metrics.self_times({k: v[:3] for k, v in tree.items()})
        self.assertEqual(selfs[("span", 1)], 20)
        self.assertEqual(selfs[("span", 0)], 15)
        self.assertEqual(selfs[("op", 0)], 0)

    def test_exclusive_times_count_overlapping_siblings_once(self):
        tree = {"op": (None, 0, 10), "j1": ("op", 2, 6), "j2": ("op", 4, 8), "p": ("j1", 2, 3)}
        ex = metrics.exclusive_times(tree)
        self.assertEqual(sum(ex.values()), 10)
        self.assertEqual(ex["op"], 4)
        self.assertEqual(ex["p"], 1)
        self.assertEqual(ex["j1"] + ex["j2"], 5)


def _raw(ops):
    return {"ops": ops, "passes": [{"pass": 0, "traced": False, "start_us": 0, "end_us": 3}],
            "setup_reps_s": [1.0], "vm_hwm_kb": 1024, "store_bytes": 0}


def _op(i, name, check="", error=""):
    return {"id": i, "pass": 0, "name": name, "kind": "read", "start_us": i, "end_us": i + 1,
            "error": error, "check": check}


class FailRatio(unittest.TestCase):
    def test_wrong_output_raises_fail_ratio(self):
        good = _raw([_op(0, "triangle"), _op(1, "four_cycle")])
        self.assertEqual(metrics.fail_count(good), 0)
        self.assertEqual(metrics.end_to_end(good, 1.0, {})["fail_ratio"][0], 0.0)

        # the check verdict the harness records for a wrong count
        bad = _raw([_op(0, "triangle"), _op(1, "four_cycle", check="count 8, DuckDB gives 9")])
        self.assertEqual(metrics.fail_count(bad), 1)
        self.assertEqual(metrics.end_to_end(bad, 1.0, {})["fail_ratio"][0], 0.5)

    def test_op_error_counts_as_failed(self):
        raw = _raw([_op(0, "ingest", error="IOException: gone"), _op(1, "ingest"), _op(2, "ingest")])
        self.assertEqual(metrics.fail_count(raw), 1)
        self.assertAlmostEqual(metrics.end_to_end(raw, 1.0, {})["fail_ratio"][0], 1 / 3)


class CountOracle(unittest.TestCase):
    def test_duckdb_variants_count_like_the_plain_self_joins(self):
        # the variants that aggregate or materialize before the closing join
        # must give the plain self-join's homomorphism count
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                               "workloads", "graph_patterns.json")) as f:
            patterns = json.load(f)
        plain = [{"name": p["name"], "pattern": p["pattern"]} for p in patterns]
        with tempfile.TemporaryDirectory() as d:
            e = gen.skewed_edges(3, n_v=300, n_e=2_000)
            gen._write(gen.pa.table({"src": e[:, 0], "dst": e[:, 1]}), os.path.join(d, "edges"))
            fast, slow = oracle.pattern_counts(d, patterns), oracle.pattern_counts(d, plain)
        self.assertEqual(fast, slow)
        self.assertTrue(all(n > 0 for n in slow.values()), slow)

    def test_pattern_sql_binds_repeated_variables(self):
        self.assertEqual(
            oracle.pattern_sql("(a)-[]->(b)-[]->(c); (c)-[]->(a)"),
            "SELECT count(*) FROM edges e0, edges e1, edges e2 "
            "WHERE e0.dst = e1.src AND e1.dst = e2.src AND e0.src = e2.dst")


if __name__ == "__main__":
    unittest.main()
