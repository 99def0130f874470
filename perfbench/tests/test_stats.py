"""Tests of the benchmark's own arithmetic and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analyze  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        # 11 samples: the minimum is the only value with 10 above it
        self.assertEqual(stats.tail(list(range(11))), (0, 100 * 1 / 11, 11))

    def test_highest_qualifying_order_statistic(self):
        xs = list(range(1, 101))
        random.Random(7).shuffle(xs)
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (90, 100))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_p99_needs_a_thousand_samples(self):
        value, pct, _ = stats.tail([float(i) for i in range(1000)])
        self.assertAlmostEqual(pct, 99.0)
        self.assertEqual(value, 989.0)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([5.5]), 5.5)

    def test_scale_invariance(self):
        xs = [3.0, 70.0, 0.25, 12.0]
        self.assertAlmostEqual(stats.geomean([2 * x for x in xs]),
                               2 * stats.geomean(xs))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        self.assertIsNone(stats.geomean([]))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25),
                                             (30, 30), (22, 23)]), 20)

    def test_driver_gap(self):
        self.assertEqual(stats.driver_gap(100, [(10, 40), (30, 60), (80, 90)]),
                         40)
        self.assertEqual(stats.driver_gap(100, []), 100)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = {"op": {"t0": 0, "t1": 100, "depth": 0},
                 "build": {"t0": 10, "t1": 40, "depth": 1},
                 "action": {"t0": 50, "t1": 95, "depth": 1},
                 "stage": {"t0": 60, "t1": 90, "depth": 2}}
        own = stats.self_times((0, 100), spans)
        self.assertEqual(own, {"op": 25, "build": 30, "action": 15,
                               "stage": 30})

    def test_overlapping_siblings_go_to_the_latest_start(self):
        spans = {"a": {"t0": 0, "t1": 60, "depth": 1},
                 "b": {"t0": 40, "t1": 100, "depth": 1}}
        own = stats.self_times((0, 100), spans)
        self.assertEqual(own, {"a": 40, "b": 60})

    def test_uncovered_time_goes_to_none(self):
        own = stats.self_times((0, 10), {"a": {"t0": 2, "t1": 5, "depth": 1}})
        self.assertEqual(own, {None: 7, "a": 3})

    def test_random_trees_partition_the_wall(self):
        rng = random.Random(3)
        for _ in range(200):
            spans = {}
            for i in range(rng.randint(1, 12)):
                a = rng.randint(0, 1000)
                spans[i] = {"t0": a, "t1": a + rng.randint(0, 400),
                            "depth": rng.randint(0, 4)}
            own = stats.self_times((0, 1000), spans)
            self.assertEqual(sum(own.values()), 1000)


def _result(ops, spans=(), jobs=(), stages=(), phases=()):
    return {"workload": "heavy_batch", "ops": ops, "sweeps": [],
            "gc_ms_timed": 0, "peak_heap_mb": 1.0, "setup_end_us": 0,
            "vm_hwm_kb": 1024, "setup_phases": {}, "setup_errors": [],
            "spark": {"spans": list(spans), "jobs": list(jobs),
                      "stages": list(stages), "phases": list(phases)}}


def _stage(sid, t0, t1, tasks=4):
    return {"stage": sid, "attempt": 0, "t0": t0, "t1": t1, "tasks": tasks,
            "task_ms": 10, "cpu_ms": 8.0, "shuffle_read_bytes": 1,
            "shuffle_write_bytes": 2, "spill_bytes": 0}


def _query_result():
    """A query op: build (with an eager checkpoint job) then count."""
    op = {"kind": "query", "name": "q1", "t0": 1_000_000,
          "t1": 1_100_000, "ok": True, "pass": 0}
    spans = [
        {"id": 1, "parent": 0, "name": "op.query", "layer": "op",
         "t0": 1_000_000, "t1": 1_100_000},
        {"id": 2, "parent": 1, "name": "operators.build",
         "layer": "operators", "t0": 1_001_000, "t1": 1_040_000},
        {"id": 3, "parent": 1, "name": "action.count", "layer": "action",
         "t0": 1_040_000, "t1": 1_099_000}]
    jobs = [{"job": 0, "t0": 1_010_000, "t1": 1_030_000, "stages": [0]},
            {"job": 1, "t0": 1_050_000, "t1": 1_098_000, "stages": [1, 2]}]
    stages = [_stage(0, 1_012_000, 1_028_000),
              _stage(1, 1_051_000, 1_070_000),
              _stage(2, 1_071_000, 1_097_000, tasks=1)]
    phases = [{"phase": "optimization", "t0": 1_041_000, "t1": 1_045_000},
              {"phase": "planning", "t0": 1_045_000, "t1": 1_049_000}]
    return _result([op], spans, jobs, stages, phases)


class TraceTreeTest(unittest.TestCase):
    def setUp(self):
        self.result = _query_result()

    def test_self_times_and_gap_add_up_to_the_wall(self):
        (tree,) = analyze.op_trees(self.result)
        nodes = tree["nodes"]
        wall = 100_000
        self.assertEqual(sum(n["self"] for n in nodes.values()), wall)
        stage_time = sum(n["self"] for n in nodes.values()
                         if n["layer"] == "stage")
        self.assertEqual(stage_time, 16_000 + 19_000 + 26_000)
        gap = stats.driver_gap(wall, [(n["t0"], n["t1"])
                                      for n in nodes.values()
                                      if n["layer"] == "stage"])
        self.assertEqual(gap, wall - stage_time)

    def test_parents(self):
        (tree,) = analyze.op_trees(self.result)
        nodes = tree["nodes"]
        self.assertEqual(nodes["j0"]["parent"], "b2")   # inside the build
        self.assertEqual(nodes["j1"]["parent"], "b3")   # inside the count
        self.assertEqual(nodes["s2.0"]["parent"], "j1")
        self.assertEqual(nodes["p0"]["parent"], "b3")

    def test_layer_metrics(self):
        m, detail = analyze.layers(self.result, cores=4)
        self.assertEqual(detail["identity_max_err_us"], 0)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.task_ms"], 30)
        self.assertAlmostEqual(m["exec.driver_gap_ms"], 39.0)
        self.assertAlmostEqual(m["exec.single_task_stage_ms"], 26.0)
        self.assertAlmostEqual(m["build_ms"], 39.0)
        self.assertAlmostEqual(m["action_ms"], 59.0)
        self.assertAlmostEqual(m["plan.planning_ms"], 4.0)
        self.assertAlmostEqual(m["exec.core_util"], 30 / (100 * 4))
        self.assertEqual(detail["operators.build_ms"], {"q1": 39.0})


class FailureCountTest(unittest.TestCase):
    def test_failed_frac(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        self.assertEqual(stats.failed_frac(ops), 0.5)
        self.assertIsNone(stats.failed_frac([]))

    def test_output_check_failure_fails_every_execution(self):
        ops = [{"kind": "query", "name": q, "t0": 0, "t1": 1000, "ok": True,
                "error": "", "pass": p} for p in (0, 1) for q in ("a", "b")]
        result = _result(ops)
        result["workload_detail"] = {"outputs": "", "oracle_sql": {},
                                     "primed_rows": {"a": 5, "b": 7}}
        checked = run.mark_oracle_failures(result, {"b": "values differ"})
        self.assertFalse(checked)
        self.assertEqual([o["ok"] for o in ops], [True, False, True, False])
        self.assertEqual(stats.failed_frac(ops), 0.5)

    def test_failed_priming_fails_the_query(self):
        ops = [{"kind": "query", "name": "a", "t0": 0, "t1": 1000,
                "ok": True, "error": "", "pass": 0}]
        result = _result(ops)
        result["workload_detail"] = {"outputs": "", "oracle_sql": {},
                                     "primed_rows": {"a": -1}}
        self.assertFalse(run.mark_oracle_failures(result, {}))
        self.assertFalse(ops[0]["ok"])


class ContractTest(unittest.TestCase):
    """The printed metrics are exactly the ones BENCHMARK.json declares."""

    def test_names_and_units_match_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        result = _query_result()
        e2e, _ = analyze.e2e(result, launch_us=-1_000_000)
        layers, _ = analyze.layers(result, cores=4)
        for declared, printed in ((bench["end_to_end"], e2e),
                                  (bench["per_layer"], layers)):
            self.assertEqual({m["name"]: m["unit"] for m in declared},
                             {k: run.unit_of(k) for k in printed})


if __name__ == "__main__":
    unittest.main()
