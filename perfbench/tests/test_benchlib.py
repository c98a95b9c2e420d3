"""Unit tests of the benchmark front end.

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402
import run  # noqa: E402


def rec(name, ok=True, traced=False, latency=1.0):
    return {"name": name, "ok": ok, "traced": traced, "latency_s": latency}


class MetricNames(unittest.TestCase):
    def test_names_are_well_formed(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(name, benchlib.NAME_RE)

    def test_benchmark_json_matches_the_front_end(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class TailPercentile(unittest.TestCase):
    def test_grid_points(self):
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertEqual(benchlib.tail_percentile(39), 50)
        self.assertEqual(benchlib.tail_percentile(40), 75)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(200), 95)
        self.assertEqual(benchlib.tail_percentile(1000), 99)

    def test_highest_point_with_ten_samples_beyond(self):
        for n in range(20, 2001):
            p = benchlib.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > benchlib.nearest_rank(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            higher = [q for q in benchlib.TAIL_GRID if q > p]
            for q in higher:
                self.assertLess(sum(1 for x in xs if x > benchlib.nearest_rank(xs, q)), 10, (n, q))

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(benchlib.tail_percentile(5), 50)
        stats = benchlib.latency_stats([3.0, 1.0, 2.0])
        self.assertEqual(stats["tail_pct"], 50)
        self.assertEqual(stats["p50"], 2.0)


class FailedShare(unittest.TestCase):
    def test_wrong_results_count_as_well_as_exceptions(self):
        records = [rec("a"), rec("a"), rec("b", ok=False), rec("c"), rec("d")]
        checks = [{"name": "a.parity", "status": "fail"},
                  {"name": "c", "status": "pass"},
                  {"name": "d", "status": "unchecked"},
                  {"name": "d.known_bias", "status": "known_bias"}]
        wrong = benchlib.wrong_queries(checks, {r["name"] for r in records})
        self.assertEqual(wrong, {"a"})
        self.assertEqual(benchlib.failure_count(records, wrong), 3)
        self.assertAlmostEqual(benchlib.failed_share(records, wrong), 3 / 5)

    def test_prefix_is_not_a_match(self):
        wrong = benchlib.wrong_queries([{"name": "build.hll_dense16x", "status": "fail"}],
                                       {"build.hll_dense16"})
        self.assertEqual(wrong, set())


class SelfTimes(unittest.TestCase):
    def span(self, i, parent, name, a, b):
        return {"id": i, "parent": parent, "name": name, "query": "q",
                "start_us": a, "end_us": b}

    def test_self_times_sum_to_no_more_than_wall(self):
        spans = [
            self.span(1, 0, "query", 0, 1000),
            self.span(2, 1, "entry.build", 0, 200),
            self.span(3, 2, "spark.job", 50, 150),
            self.span(4, 1, "exec.run", 200, 950),
            # concurrent jobs overlap each other, and one overruns its parent
            self.span(5, 4, "spark.job", 250, 800),
            self.span(6, 4, "spark.job", 300, 990),
            self.span(7, 1, "cleanup", 950, 1000),
        ]
        st = benchlib.self_times(spans)
        self.assertLessEqual(sum(st.values()), 1000)
        self.assertTrue(all(v >= 0 for v in st.values()))
        self.assertEqual(st[2], 100)
        self.assertEqual(st[4], 50)

    def test_recorded_span_files(self):
        """Every query tree of any traced run left in the build directory."""
        for path in glob.glob(os.path.join(BENCH, "target", "runs", "*", "spans.jsonl")):
            with open(path) as f:
                spans = [json.loads(l) for l in f if l.strip()]
            by_id = {s["id"]: s for s in spans}
            trees = {}
            for s in spans:
                trees.setdefault(benchlib._root_of(s, by_id)["id"], []).append(s)
            for root_id, tree in trees.items():
                root = by_id[root_id]
                wall = root["end_us"] - root["start_us"]
                self.assertLessEqual(sum(benchlib.self_times(tree).values()), wall, path)


class SeededInputs(unittest.TestCase):
    """Builds the driver on first use (sbt, about a minute)."""

    def digest(self, seed):
        out = subprocess.run(
            ["java", "-cp", run.build(), "perfbench.Main", "--mode", "inputs",
             "--seed", str(seed), "--rows", str(run.BUILD_ROWS)],
            capture_output=True, text=True, check=True).stdout
        return json.loads(out.strip().splitlines()[-1])

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        a, b, c = self.digest(1), self.digest(1), self.digest(2)
        self.assertEqual(a, b)
        for key in a:
            self.assertNotEqual(a[key], c[key], key)


class LaneSelection(unittest.TestCase):
    def test_sample_keeps_every_family_and_fits(self):
        lanes = {f"{fam}_{i}": 0.1 * (i + 1) for fam in benchlib.FAMILIES for i in range(10)}
        sample = benchlib.stratified_sample(lanes, 6.0)
        self.assertEqual({benchlib.family(n) for n in sample}, set(benchlib.FAMILIES))
        self.assertLessEqual(sum(lanes[n] for n in sample), 6.0)
        self.assertEqual(sample, benchlib.stratified_sample(dict(reversed(lanes.items())), 6.0))

    def test_large_lanes_are_those_that_use_more_than_one_core(self):
        cal = [
            {"query": "q_a", "scale": "sf0.1", "wall_s": 1.0, "task_cpu_s": 2.0, "ok": True},
            {"query": "q_b", "scale": "sf0.1", "wall_s": 0.9, "task_cpu_s": 0.5, "ok": True},
            {"query": "dd_c", "scale": "sf0.1", "wall_s": 2.0, "task_cpu_s": 3.0, "ok": True},
            {"query": "dd_d", "scale": "sf0.1", "wall_s": 2.0, "task_cpu_s": 3.0, "ok": False},
        ]
        self.assertEqual(benchlib.contract_lanes(cal, "contract_large", 100), ["dd_c", "q_a"])


if __name__ == "__main__":
    unittest.main()
