"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import unittest

import bench_lib as lib


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        self.assertEqual(lib.tail_percentile(200), 95.0)
        self.assertEqual(lib.tail_percentile(100), 90.0)
        self.assertEqual(lib.tail_percentile(48), 79.0)

    def test_small_runs_fall_back_to_two_beyond(self):
        self.assertEqual(lib.tail_percentile(19), 89.0)
        self.assertEqual(lib.tail_percentile(8), 75.0)
        self.assertIsNone(lib.tail_percentile(3))
        self.assertIsNone(lib.tail_percentile(0))

    def test_percentile_interpolates(self):
        self.assertEqual(lib.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(lib.percentile([5], 95), 5)
        s = lib.latency_summary(list(range(1, 201)), 200)
        self.assertEqual((s["n"], s["tail_pct"]), (200, 95.0))
        self.assertAlmostEqual(s["p50_ms"], 100.5)

    def test_tail_follows_the_planned_count_not_the_reached_one(self):
        planned = 2 * 22
        tails = {lib.latency_summary(list(range(n)), planned)["tail_pct"]
                 for n in (22, 44, 66, 300)}
        self.assertEqual(tails, {77.0})


class Backlog(unittest.TestCase):
    def sawtooth(self, rate, grow):
        ts, prod, done = [], [], []
        for i in range(60):
            t = i * 0.05
            ts.append(t)
            prod.append(rate * t)
            # commits every 0.5 s of what had arrived 0.5 s earlier,
            # minus `grow` events/s that fall further behind
            tc = (int(t / 0.5)) * 0.5
            done.append(max(0.0, rate * (tc - 0.5) - grow * t))
        return ts, prod, done

    def test_steady_sawtooth_does_not_grow(self):
        ts, prod, done = self.sawtooth(4000, 0)
        self.assertFalse(lib.backlog_grows(ts, prod, done, 4000))

    def test_growing_backlog_is_detected(self):
        ts, prod, done = self.sawtooth(4000, 1500)
        self.assertTrue(lib.backlog_grows(ts, prod, done, 4000))

    def test_commit_rate(self):
        commits = [(0.0, 0), (1.0, 100), (2.0, 300), (2.5, 400), (3.0, 450)]
        self.assertEqual(lib.commit_rate(commits), 150.0)
        self.assertEqual(lib.commit_rate([(0.0, 0), (1.0, 100)]), 0.0)


class Normaliser(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = lib.result_hash(["b", "a"], [[1, "x"], [2, "y"]])
        b = lib.result_hash(["a", "b"], [["y", 2], ["x", 1]])
        self.assertEqual(a, b)

    def test_doubles_round_to_hundredths(self):
        self.assertEqual(lib.result_hash(["v"], [[1.004]]), lib.result_hash(["v"], [[1.0]]))
        self.assertNotEqual(lib.result_hash(["v"], [[1.01]]), lib.result_hash(["v"], [[1.02]]))

    def test_gateway_json_matches_duckdb_values(self):
        ts = datetime.datetime(2024, 1, 1, 0, 30)
        row = [lib.parse_typed("2024-01-01 00:30:00.0", "TIMESTAMP"),
               lib.parse_typed(7, "BIGINT"), lib.parse_typed(2, "DOUBLE")]
        self.assertEqual(lib.result_hash(["t", "n", "v"], [row]),
                         lib.result_hash(["t", "n", "v"], [[ts, 7, 2.0]]))

    def test_rounding_boundary_falls_back_to_tolerance(self):
        a = [["x", 1234.5650000001]]
        b = [["x", 1234.5649999999]]
        self.assertNotEqual(lib.result_hash(["k", "v"], a), lib.result_hash(["k", "v"], b))
        self.assertTrue(lib.results_match(["k", "v"], a, ["k", "v"], b))
        self.assertFalse(lib.results_match(["k", "v"], a, ["k", "v"], [["x", 1234.6]]))
        self.assertFalse(lib.results_match(["k", "v"], a, ["k", "v"], [["y", 1234.565]]))
        self.assertFalse(lib.results_match(["k", "v"], a, ["k", "v"], a + a))

    def test_nulls_nan_and_counts(self):
        self.assertEqual(lib.norm_cell(None), "NULL")
        self.assertEqual(lib.norm_cell(float("nan")), "NaN")
        self.assertEqual(lib.result_hash(["a"], [[1], [1]])[1], 2)
        self.assertNotEqual(lib.result_hash(["a"], [[1], [1]]),
                            lib.result_hash(["a"], [[1]]))


class SeededInputs(unittest.TestCase):
    def test_statements_are_deterministic_per_seed(self):
        self.assertEqual(lib.statements(1, 24, 150), lib.statements(1, 24, 150))
        self.assertNotEqual(lib.statements(1, 24, 150), lib.statements(2, 24, 150))

    def test_every_shape_is_drawn(self):
        shapes = {s[0] for s in lib.statements(3, 24, 150)}
        self.assertEqual(shapes, set(lib.SHAPES))

    def test_orders_are_deterministic_permutations(self):
        jobs = ["a", "b", "c", "d", "e", "f"]
        self.assertEqual(lib.orders(1, jobs, 3, "x"), lib.orders(1, jobs, 3, "x"))
        self.assertNotEqual(lib.orders(1, jobs, 3, "x"), lib.orders(2, jobs, 3, "x"))
        self.assertTrue(all(sorted(p) == jobs for p in lib.orders(5, jobs, 3, "x")))

    def test_changelog_is_deterministic_and_retracts_only_live_values(self):
        a = lib.changelog(1, 5000)
        self.assertEqual(a, lib.changelog(1, 5000))
        self.assertNotEqual(a, lib.changelog(2, 5000))
        self.assertEqual(len(a), 5000)
        live = {}
        kinds = set()
        for key, v, kind in a:
            kinds.add(kind)
            vals = live.setdefault(key, [])
            if kind in (lib.INSERT, lib.UPDATE_AFTER):
                vals.append(v)
            else:
                self.assertIn(v, vals)
                vals.remove(v)
        self.assertEqual(kinds, {lib.INSERT, lib.UPDATE_BEFORE, lib.UPDATE_AFTER, lib.DELETE})

    def test_changelog_keys_are_skewed(self):
        counts = {}
        for key, _, _ in lib.changelog(4, 20000):
            counts[key] = counts.get(key, 0) + 1
        top = sorted(counts.values(), reverse=True)
        self.assertGreater(top[0], 20 * top[len(top) // 2])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_from_the_parent(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "client", "start_ns": 0, "end_ns": 10_000_000},
            {"id": 2, "parent": 1, "layer": "gateway", "start_ns": 1_000_000, "end_ns": 4_000_000},
            {"id": 3, "parent": 1, "layer": "gateway", "start_ns": 3_000_000, "end_ns": 6_000_000},
        ]
        st = lib.self_times(spans)
        self.assertAlmostEqual(st["client"], 5.0)
        self.assertAlmostEqual(st["gateway"], 6.0)


if __name__ == "__main__":
    unittest.main()
