"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test compiles the program once (as a benchmark run would) and runs
the JVM-side checks in perfbench/scala/SelfTest.scala.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([5]), 5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_hd_median(self):
        self.assertEqual(stats.hd_median([5]), 5)
        self.assertAlmostEqual(stats.hd_median([1, 2]), 1.5)
        self.assertAlmostEqual(stats.hd_median([1, 2, 3]), 2)
        self.assertAlmostEqual(stats.hd_median([7] * 9), 7)
        xs = [0.3, 0.31, 0.5, 0.55, 0.6, 0.77, 1.3, 1.4, 3.0, 3.1]
        self.assertAlmostEqual(stats.hd_median(xs),
                               stats.hd_median(list(reversed(xs))))
        self.assertTrue(0.55 < stats.hd_median(xs) < 1.3)
        with self.assertRaises(ValueError):
            stats.hd_median([])

    def test_hd_median_moves_smoothly_across_a_gap(self):
        # two clusters of equal size: the middle order statistics jump when
        # one sample crosses the gap; the Harrell-Davis estimate moves little
        lo, hi = [1.0] * 8 + [1.1], [2.0] * 9
        crossed = [1.0] * 8 + [2.0] * 9 + [1.9]
        jump = stats.median(crossed) / stats.median(lo + hi) - 1
        smooth = stats.hd_median(crossed) / stats.hd_median(lo + hi) - 1
        self.assertGreater(jump, 0.2)
        self.assertLess(smooth, jump / 2)

    def test_high_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        # p99 and p95 have 1 and 5 samples above them; p90 has exactly 10
        self.assertEqual(stats.high_percentile(xs), (90, 90))
        self.assertEqual(stats.high_percentile(xs[:99]), (75, 75))
        self.assertEqual(stats.high_percentile(list(range(1, 41))), (75, 30))
        self.assertIsNone(stats.high_percentile(list(range(1, 40))))
        self.assertIsNone(stats.high_percentile([]))
        self.assertEqual(stats.high_percentile(list(range(1001)))[0], 99)

    def test_high_percentile_ignores_input_order(self):
        xs = [float(i % 37) for i in range(200)]
        self.assertEqual(stats.high_percentile(xs),
                         stats.high_percentile(sorted(xs, reverse=True)))


class DriverGaps(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # key runs 0..1000 ms; jobs cover 100..400 and 300..600 (overlap),
        # 650..700, and one job sticks out past the key's end
        jobs = [(100, 400), (300, 600), (650, 700), (900, 1500)]
        self.assertEqual(stats.union_ms(jobs, 0, 1000), 500 + 50 + 100)
        self.assertAlmostEqual(stats.gap_s((0, 1000), jobs), 0.35)

    def test_nested_and_disjoint(self):
        self.assertEqual(stats.union_ms([(0, 100), (10, 20), (200, 300)],
                                        0, 1000), 200)
        self.assertEqual(stats.union_ms([], 0, 1000), 0)
        self.assertEqual(stats.union_ms([(2000, 3000)], 0, 1000), 0)
        self.assertAlmostEqual(stats.gap_s((0, 1000), [(0, 1000)]), 0.0)


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for ok in ["pass_s", "Curation.gap_s", "jvm.gc_s", "a-b.c_1"]:
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ["", "a b", "Curation/gap", "x:y", "é"]:
            self.assertFalse(stats.valid_name(bad), bad)

    def test_every_emitted_name_is_valid(self):
        names = list(run.END_TO_END) + list(run.per_layer_units())
        self.assertTrue(all(stats.valid_name(n) for n in names))
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(run.per_layer_units()), 128)

    def test_benchmark_json_matches_the_runner(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())


class JvmSide(unittest.TestCase):
    def test_digest_and_permutation(self):
        classes = run.build()
        res = subprocess.run(
            [run.java(), *run.add_opens(), "-Xmx1g", "-cp",
             f"{classes}:{run.spark_jars()}/*", "perfbench.SelfTest"],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        self.assertIn("selftest ok", res.stdout)


if __name__ == "__main__":
    unittest.main()
