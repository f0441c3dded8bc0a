"""Tests of the benchmark's own statistics. Run from the repository root:

    python3 -m unittest discover -s layerbench -p 'test_*.py'

The digest test needs the harness built (any run of `run.py` builds it)
and is skipped otherwise."""
import os
import subprocess
import unittest

import run
import stats


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_rank_not_order(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 0, 11]
        self.assertEqual(stats.tail(xs)[0], 1)
        self.assertEqual(stats.tail(sorted(xs, reverse=True)), stats.tail(xs))

    def test_percentile_rises_with_samples(self):
        self.assertAlmostEqual(stats.tail(list(range(20)))[1], 50.0)
        self.assertAlmostEqual(stats.tail(list(range(40)))[1], 75.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 10))


class JobIntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        iv = [(0, 2), (1, 3), (5, 6)]
        self.assertEqual(stats.merged(iv, 0, 10), [[0, 3], [5, 6]])
        self.assertEqual(stats.covered(iv, 0, 10), 4)

    def test_nested_and_touching(self):
        self.assertEqual(stats.covered([(0, 10), (2, 3), (10, 12)], 0, 20), 12)

    def test_clipped_to_query_window(self):
        # A job that started before the window or ends after it counts
        # only for its part inside.
        self.assertEqual(stats.covered([(-5, 1), (9, 15)], 0, 10), 2)
        self.assertEqual(stats.covered([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_wall_minus_union(self):
        wall = (100.0, 200.0)
        jobs = [(110, 130), (120, 150), (180, 190)]
        gap = (wall[1] - wall[0]) - stats.covered(jobs, *wall)
        self.assertEqual(gap, 50.0)

    def test_covered_outside(self):
        phases = [(0, 4), (8, 12)]
        jobs = [(2, 9)]
        self.assertEqual(stats.covered_outside(phases, jobs, 0, 20), 5)
        self.assertEqual(stats.covered_outside([], jobs, 0, 20), 0)


class RefNormalization(unittest.TestCase):
    def test_a_uniformly_slower_host_cancels(self):
        walls, refs = [0.5, 1.0, 2.0], [0.03, 0.03, 0.04]
        slow = 1.37
        self.assertEqual(
            [round(x, 9) for x in stats.ref_ratios(walls, refs)],
            [round(x, 9) for x in stats.ref_ratios([w * slow for w in walls],
                                                   [r * slow for r in refs])])
        self.assertAlmostEqual(
            stats.pass_ref([(walls, refs)]),
            stats.pass_ref([([w * slow for w in walls], [r * slow for r in refs])]))

    def test_each_query_uses_its_own_reference(self):
        self.assertEqual(stats.ref_ratios([1.0, 1.0], [0.5, 0.25]), [2.0, 4.0])

    def test_pass_ref_is_median_of_pass_ratios(self):
        passes = [([1, 1], [1, 1]), ([3, 3], [1, 1]), ([2, 2], [1, 1])]
        self.assertEqual(stats.pass_ref(passes), 2)


def query(pass_, t0, wall, build, cpu=1.0, ref=0.1, traced=True):
    return {"pass": pass_, "t0": t0, "t1": t0 + build * 1e3, "t2": t0 + wall * 1e3,
            "wall_s": wall, "build_s": build, "cpu_s": cpu, "ref_s": ref,
            "jit_s": 0.0, "gc_s": 0.0, "codegen_s": 0.0, "codegen_classes": 0,
            "traced": traced}


class Attribution(unittest.TestCase):
    def test_parts_sum_to_wall(self):
        qs = [query(0, 1000.0, 1.0, 0.2), query(0, 3000.0, 0.5, 0.1)]
        jobs = [{"start": 1100.0, "end": 1400.0}, {"start": 1300.0, "end": 1600.0},
                {"start": 3050.0, "end": 3100.0}]
        phases = [{"phase": "planning", "start": 1050.0, "end": 1150.0},
                  {"phase": "analysis", "start": 3000.0, "end": 3010.0}]
        batches = [{"start": 3200.0, "add_batch_s": 0.1, "wal_commit_s": 0.01,
                    "commit_offsets_s": 0.01, "latest_offset_s": 0.0,
                    "query_planning_s": 0.02, "state_commit_s": 0.03, "state_rows": 7}]
        out = stats.per_layer(qs, jobs, [], phases, batches, [{"disk_b": 0}], [1.5], 4)
        self.assertAlmostEqual(out["sched.job_wall_s"], 0.55)
        self.assertAlmostEqual(out["plans.gap_s"], 0.06)
        self.assertAlmostEqual(
            out["sched.job_wall_s"] + out["plans.gap_s"] + out["unattributed_s"],
            out["trace.query_wall_s"])
        self.assertEqual(out["sched.jobs"], 3)
        self.assertEqual(out["operators.build_jobs"], 2)
        self.assertEqual(out["streaming.batches"], 1)
        self.assertEqual(out["streaming.state_rows"], 7)
        self.assertAlmostEqual(out["trace.overhead"], 1.0)

    def test_end_to_end(self):
        qs = [query(p, 1000.0 * (i + 1) + 1e5 * p, w, 0.1, cpu=2 * w, ref=r, traced=False)
              for p in range(2)
              for i, (w, r) in enumerate([(0.5, 0.05), (1.0, 0.05), (2.0, 0.1)] * 2)]
        m = stats.end_to_end({"launch_ms": 0.0}, qs, {"heap_b": 3 << 20})
        self.assertEqual(m["query_p50_s"][0], 1.0)
        self.assertEqual(m["query_tail_s"][0], 0.5)
        self.assertEqual(m["query_tail_s"][2]["samples"], 12)
        self.assertAlmostEqual(m["throughput_qps"][0], 12 / 14.0)
        self.assertAlmostEqual(m["cpu_per_query_s"][0], 28 / 12.0)
        self.assertAlmostEqual(m["query_p50_ref"][0], 20.0)
        self.assertAlmostEqual(m["query_gmean_ref"][0], (10 * 20 * 20) ** (1 / 3.0))
        self.assertAlmostEqual(m["pass_ref"][0], 7.0 / 0.4)
        self.assertAlmostEqual(m["setup_s"][0], 1.0)
        self.assertEqual(m["retained_heap_mb"][0], 3.0)

    def test_result_line_metrics_are_computed(self):
        qs = [query(0, 1000.0 * i, 1.0, 0.1, traced=False) for i in range(12)]
        m = stats.end_to_end({"launch_ms": 0.0}, qs, {"heap_b": 1})
        self.assertTrue(set(run.RESULT) - {"success_rate"} <= set(m))


class DigestStability(unittest.TestCase):
    def test_harness_digest_selftest(self):
        cp_file = os.path.join(run.TARGET, "layerbench.classpath")
        if not os.path.isfile(cp_file):
            self.skipTest("harness not built; run layerbench/run.py once")
        with open(cp_file) as fh:
            cp = fh.read()
        p = subprocess.run(["java", "-cp", cp, "layerbench.Harness", "mode=selftest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertNotIn("FAIL", p.stdout)
        self.assertGreaterEqual(p.stdout.count("PASS"), 10)

    def test_digests_must_agree_across_passes(self):
        a = {"name": "q", "rows": 1, "digest": "ab"}
        self.assertEqual(run.digests_of([a, dict(a)]), {"q": (1, "ab")})
        self.assertIsNone(run.digests_of([a, dict(a, digest="cd")]))
        self.assertIsNone(run.digests_of([{"name": "q", "error": "boom"}]))


if __name__ == "__main__":
    unittest.main()
