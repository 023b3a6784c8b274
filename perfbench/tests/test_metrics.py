"""Unit tests for the benchmark's own calculations.

  python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import steadiness  # noqa: E402
import tables  # noqa: E402


class TailTest(unittest.TestCase):

    def test_nearest_rank(self):
        s = list(range(1, 101))
        self.assertEqual(metrics.percentile(s, 50), 50)
        self.assertEqual(metrics.percentile(s, 99), 99)
        self.assertEqual(metrics.percentile(s, 100), 100)
        self.assertEqual(metrics.percentile([7], 99.9), 7)

    def test_highest_percentile_with_ten_beyond(self):
        # 1000 samples: p99 leaves 10 beyond, p99.9 leaves 1
        p, v, n = metrics.tail(list(range(1000, 0, -1)))
        self.assertEqual((p, v, n), (99.0, 990, 1000))
        # 10000 samples: p99.9 leaves exactly 10 beyond
        p, v, n = metrics.tail(range(1, 10001))
        self.assertEqual((p, v, n), (99.9, 9990, 10000))
        # 999 samples: p99 would leave 9, so p90 it is
        p, _v, _n = metrics.tail(range(999))
        self.assertEqual(p, 90.0)

    def test_every_reported_tail_has_ten_beyond(self):
        rng = random.Random(3)
        for n in (11, 57, 100, 1234, 25000):
            vals = [rng.random() for _ in range(n)]
            p, v, _ = metrics.tail(vals)
            if p == 100.0:
                self.assertLess(n, metrics.MIN_BEYOND * 2 + 1)
                continue
            self.assertGreaterEqual(sum(1 for x in vals if x > v), 10)
            higher = [q for q in metrics.TAIL_PERCENTILES if q > p]
            if higher:
                self.assertLess(metrics.beyond(n, higher[0]), 10)

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (100.0, 3, 3))


class SelfTimeTest(unittest.TestCase):

    def test_child_time_is_subtracted(self):
        spans = [(1, "setup", 0, 100, 0),
                 (2, "parse", 10, 30, 1),
                 (3, "compile", 30, 70, 1)]
        self.assertEqual(metrics.self_times(spans),
                         {"setup": 40, "parse": 20, "compile": 40})

    def test_overlapping_children_count_once(self):
        # two sink writes overlapping inside one batch
        spans = [(1, "batch", 0, 100, 0),
                 (2, "sink.write", 20, 60, 1),
                 (3, "sink.write", 40, 80, 1)]
        self.assertEqual(metrics.self_times(spans)["batch"], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [(1, "batch", 0, 50, 0), (2, "sink.write", 40, 90, 1)]
        out = metrics.self_times(spans)
        self.assertEqual(out["batch"], 40)
        self.assertEqual(out["sink.write"], 50)

    def test_grandchildren_do_not_count_against_grandparent(self):
        spans = [(1, "timed", 0, 100, 0),
                 (2, "batch", 0, 50, 1),
                 (3, "sink.write", 0, 50, 2)]
        out = metrics.self_times(spans)
        self.assertEqual(out, {"timed": 50, "batch": 0, "sink.write": 50})


class GeneratorTest(unittest.TestCase):

    def test_lateness(self):
        self.assertEqual(gen.lateness_ms([1000, 2000, 3000], [1500, 2000, 2900]),
                         [0.5, 0.0, 0.0])
        p99, mx = metrics.late_summary([0.1] * 99 + [7.0])
        self.assertEqual((p99, mx), (0.1, 7.0))

    def test_schedule_is_fixed_rate(self):
        s = gen.schedule_us(1_000_000, 4000, 5)
        self.assertEqual(s, [1_000_000, 1_000_250, 1_000_500, 1_000_750, 1_001_000])

    def test_lines_are_160_bytes_and_carry_their_stamps(self):
        for k, m in enumerate(gen.messages(7, 999_990, 50)):
            line = gen.render(999_990 + k, 1_792_000_000_000_000 + k, m)
            self.assertEqual(len(line), gen.LINE_BYTES)
            self.assertTrue(line.endswith(b"\n"))
            self.assertIn(f" seq={999_990 + k} ".encode(), line)
            self.assertIn(f" sched={1_792_000_000_000_000 + k} ".encode(), line)

    def test_same_seed_same_messages(self):
        self.assertEqual(gen.messages(5, 100, 200), gen.messages(5, 100, 200))
        self.assertNotEqual(gen.messages(5, 100, 200), gen.messages(6, 100, 200))

    def test_routes_follow_the_pipeline(self):
        msgs = gen.messages(1, 0, 5000)
        for pri, _h, prog, _p, action, _u, kept, route in msgs:
            sev = pri % 8
            self.assertEqual(kept, sev <= 6 and prog != "cron")
            if kept:
                want = ("auth" if action == "login"
                        else "alert" if sev <= 3 else "bulk")
                self.assertEqual(route, want)
            else:
                self.assertIsNone(route)
        # the mix exercises every branch, and drops by both conditions
        self.assertEqual({m[7] for m in msgs}, {None, "auth", "alert", "bulk"})
        self.assertTrue(any(m[2] == "cron" and m[0] % 8 <= 6 for m in msgs))
        self.assertTrue(any(m[0] % 8 == 7 and m[2] != "cron" for m in msgs))


class GeomeanTest(unittest.TestCase):

    def test_geometric_mean(self):
        self.assertTrue(math.isclose(metrics.geomean([1.0, 100.0]), 10.0))
        self.assertTrue(math.isclose(metrics.geomean([2.0, 8.0, 4.0]), 4.0))
        self.assertTrue(math.isclose(metrics.geomean([7.5]), 7.5))

    def test_one_slow_query_moves_it_by_its_share(self):
        # doubling one of ten per-query medians multiplies the mean by 2^(1/10)
        base = [100.0 * (k + 1) for k in range(10)]
        slow = base[:3] + [base[3] * 2] + base[4:]
        self.assertTrue(math.isclose(metrics.geomean(slow) / metrics.geomean(base),
                                     2 ** 0.1))


class TablesTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        import numpy as np
        a = tables.documents(np.random.default_rng(4), 0.001)
        b = tables.documents(np.random.default_rng(4), 0.001)
        c = tables.documents(np.random.default_rng(5), 0.001)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))

    def test_documents_hold_near_duplicates(self):
        import numpy as np
        docs = tables.documents(np.random.default_rng(1), 0.01).to_pydict()
        texts = set(docs["text"])
        dups = [t for t in docs["text"] if t.endswith(" dup")]
        self.assertTrue(dups)
        self.assertTrue(all(t[:-len(" dup")] in texts for t in dups))
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])


class SpreadTest(unittest.TestCase):

    def test_steal_share(self):
        before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
        after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
        self.assertTrue(math.isclose(metrics.steal_pct(before, after), 10.0))
        self.assertIsNone(metrics.steal_pct(None, after))

    def test_compare_is_checked_in_both_orders(self):
        first = {"summary": {"m": {"median": 100.0, "bound": 0.25}}}
        second = {"summary": {"m": {"median": 70.0, "bound": 0.25}}}
        # lower is better: the second set is 30% better, and the first is
        # 43% worse than the second, so the sets do not agree
        out = steadiness.compare(first, second, {"m": "lower"})["m"]
        self.assertTrue(math.isclose(out["second_worse_by"], -0.30))
        self.assertTrue(math.isclose(out["first_worse_by"], 30.0 / 70.0))
        self.assertFalse(out["within"])
        out = steadiness.compare(first, {"summary": {"m": {"median": 110.0}}},
                                 {"m": "higher"})["m"]
        self.assertTrue(out["within"])

    def test_quartile_spread_matches_statistics(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, med, q3, spread = metrics.quartile_spread(vals)
        want = statistics.quantiles(vals, n=4)
        self.assertEqual((q1, med, q3), tuple(want))
        self.assertTrue(math.isclose(spread, (want[2] - want[0]) / statistics.median(vals)))


if __name__ == "__main__":
    unittest.main()
