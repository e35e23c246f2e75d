"""Self-tests of the benchmark's metric rules and of its one command.

    python3 -m unittest discover -s perfbench/tests

The last test builds the harness if needed and runs one query per
workload on the seeded sf0.01 inputs (about two minutes on 4 cores).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402


def sample(q, wall, ok=True, sweep=1, span=0):
    return {"q": q, "wall_s": wall, "ok": ok, "sweep": sweep, "span": span}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond_it(self):
        for n in (11, 50, 99, 100, 101, 150, 1000):
            p = metrics.tail_percentile(n)
            beyond = n - n * p / 100.0
            self.assertGreaterEqual(beyond, 10 - 1e-9, n)
            self.assertLess(n - n * (p + 1) / 100.0, 10, n)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(150), 93)
        self.assertIsNone(metrics.tail_percentile(10))

    def test_p90_of_100_samples_leaves_ten_above(self):
        xs = list(range(1, 101))
        p90 = metrics.percentile(xs, 90)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)
        self.assertEqual(metrics.percentile(xs, 50), 50.5)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)

    def test_run_prints_sample_count_and_tail_percentile(self):
        with open(os.path.join(BENCH, "run.py")) as fh:
            self.assertIn("tail percentile with >=10 samples beyond it",
                          fh.read())


class DriverGap(unittest.TestCase):
    def test_wall_minus_union_of_job_intervals(self):
        jobs = [(10, 30), (20, 40), (90, 120)]
        # union inside [0, 100]: [10, 40] and [90, 100] -> 40
        self.assertEqual(metrics.union_length(jobs, 0, 100), 40)
        self.assertEqual(metrics.driver_gap(0, 100, jobs), 60)

    def test_no_jobs_is_all_gap_and_full_cover_is_none(self):
        self.assertEqual(metrics.driver_gap(5, 25, []), 20)
        self.assertEqual(metrics.driver_gap(5, 25, [(0, 30)]), 0)

    def test_jobs_outside_the_query_do_not_count(self):
        self.assertEqual(metrics.driver_gap(100, 200, [(0, 50), (250, 300)]),
                         100)


class FailedFrac(unittest.TestCase):
    def test_exceptions_and_oracle_mismatches_both_count(self):
        samples = [sample("a", 1), sample("a", 1), sample("b", 1, ok=False),
                   sample("b", 1), sample("c", 1), sample("c", 1)]
        failed, attempted, ids = metrics.failure_count(samples, ["c"])
        # b threw once; c mismatched the oracle, so both of its
        # executions count
        self.assertEqual((failed, attempted, ids), (3, 6, ["b", "c"]))

    def test_clean_run(self):
        samples = [sample("a", 1), sample("b", 1)]
        self.assertEqual(metrics.failure_count(samples, []), (0, 2, []))


def run_record(n_samples=100, warm=5, forced=False):
    return {"samples": [sample("q", 1.0)] * n_samples, "min_samples": 100,
            "warm_sweeps": warm, "min_warm_sweeps": 3,
            "forced_stop": forced}


class SampleRules(unittest.TestCase):
    def test_a_run_that_meets_every_minimum_passes(self):
        self.assertEqual(metrics.problems(run_record()), [])
        self.assertEqual(metrics.problems(run_record(100, 3)), [])

    def test_each_missed_minimum_is_named(self):
        self.assertEqual(len(metrics.problems(run_record(99))), 1)
        self.assertEqual(len(metrics.problems(run_record(warm=2))), 1)
        self.assertEqual(
            len(metrics.problems(run_record(40, 1, forced=True))), 3)

    def test_forced_stop_alone_refuses_the_run(self):
        self.assertEqual(
            metrics.problems(run_record(forced=True)),
            ["measuring was stopped at the harness's time limit"])


class PerLayerNames(unittest.TestCase):
    def test_group_and_module_names_come_from_the_run_record(self):
        raw = {"fixpoint_groups": ["dedup", "phash"],
               "modules": ["Decode", "Mart"]}
        names = [n for n, _ in metrics.per_layer_units(raw)]
        self.assertEqual(len(names), len(set(names)))
        for n in ("memo.warm_s.dedup", "memo.warm_s.phash", "ops.Decode.s",
                  "ops.Mart.s", "exec.driver_gap_s", "trace.overhead_frac"):
            self.assertIn(n, names)
        self.assertFalse(any(n.startswith("ops.Dedup") for n in names))


class EndToEnd(unittest.TestCase):
    def test_medians_and_warm_sweeps(self):
        raw = {
            "setups": [{"setup_s": 9.0}, {"setup_s": 2.0}, {"setup_s": 3.0}],
            "sweeps": [{"first": True, "wall_s": 11.0},
                       {"first": False, "wall_s": 4.0},
                       {"first": False, "wall_s": 3.0},
                       {"first": False, "wall_s": 5.0}],
            "samples": [sample("q", x / 10) for x in range(1, 101)],
        }
        m = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"], 3.0)
        # the first set-up plus the first sweep, which sweep_s leaves out
        self.assertEqual(m["session_wall_s"], 20.0)
        self.assertEqual(m["sweep_s"], 4.0)
        self.assertAlmostEqual(m["query_p50_s"], 5.05)
        self.assertAlmostEqual(m["query_p90_s"], 9.01)


class Smoke(unittest.TestCase):
    """One query per workload at sf0.001: every metric prints by name
    with its unit, and the JSON line matches BENCHMARK.json."""

    IDS = {"etl_core": "q_tpch_q6", "curation_session": "q_dedup_near"}

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "5", "--seconds", "1", "--trace",
             str(trace), "--ids", self.IDS[workload]],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return out.stdout.strip().splitlines()

    def test_every_metric_prints_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(self.IDS))
        for workload in self.IDS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                lines = self.run_bench(workload, trace)
                result = json.loads(lines[-1])
                self.assertTrue(result["correct"], lines)
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertTrue(any(re.match(r"failed_frac \S+ ratio", x)
                                    for x in lines))
                want = {m["name"]: m["unit"] for m in spec[key]}
                self.assertEqual(
                    {k: v["unit"] for k, v in result["metrics"].items()},
                    want)
                for name, unit in want.items():
                    self.assertTrue(
                        any(re.fullmatch(rf"{re.escape(name)} \S+ "
                                         rf"{re.escape(unit)}", x)
                            for x in lines), (workload, name))


if __name__ == "__main__":
    unittest.main()
