"""Self-tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import benchlib  # noqa: E402
import sessions  # noqa: E402


def span(i, parent, level, start, end):
    return {"id": i, "parent": parent, "level": level,
            "start_ns": start, "end_ns": end, "attrs": {}}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(benchlib.percentile(xs, 0), 10)
        self.assertEqual(benchlib.percentile(xs, 100), 40)
        self.assertAlmostEqual(benchlib.percentile(xs, 50), 25)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 37)

    def test_ignores_input_order_and_handles_one_value(self):
        self.assertAlmostEqual(benchlib.percentile([3, 1, 2], 50), 2)
        self.assertEqual(benchlib.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        med, q1, q3, spread = benchlib.quartile_spread(xs)
        want_q1, _, want_q3 = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, q3), (want_q1, want_q3))
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(spread, (want_q3 - want_q1) / 5.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([(5, 5), (9, 3)]), 0)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "phase", 10, 60),
                 span(3, 2, "job", 20, 40),
                 span(4, 2, "job", 30, 50),   # overlaps job 3
                 span(5, 1, "phase", 60, 90)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 30)
        self.assertEqual(st[2], 50 - 30)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[5], 30)

    def test_children_are_clipped_to_their_parent(self):
        # listener timestamps can land just outside the driver span
        spans = [span(1, 0, "phase", 100, 200), span(2, 1, "job", 90, 150)]
        self.assertEqual(benchlib.self_times(spans)[1], 50)

    def test_levels_sum_to_the_root_wall(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "phase", 0, 80),
                 span(3, 2, "job", 10, 70)]
        by = benchlib.self_time_by_level(spans)
        self.assertAlmostEqual(sum(by.values()), 100 / 1e9)
        self.assertAlmostEqual(by["job"], 60 / 1e9)

    def test_descendants_walks_every_depth(self):
        spans = [span(1, 0, "op", 0, 9), span(2, 1, "phase", 0, 9),
                 span(3, 2, "job", 0, 9), span(4, 0, "op", 0, 9)]
        self.assertEqual(sorted(s["id"] for s in benchlib.descendants(spans, 1)),
                         [2, 3])


class CounterDeltaTest(unittest.TestCase):
    def snap(self, **kw):
        base = {"wall_ns": 0, "utime": 0, "stime": 0, "cutime": 0, "cstime": 0,
                "minflt": 0, "majflt": 0, "steal": 0, "gc_ms": 0}
        base.update(kw)
        return base

    def test_ticks_become_seconds(self):
        d = benchlib.counter_deltas(
            self.snap(utime=100, cutime=5),
            self.snap(wall_ns=2_000_000_000, utime=350, stime=40, cutime=25,
                      cstime=5, minflt=1000, majflt=2, steal=10, gc_ms=1500),
            clk_tck=100)
        self.assertEqual(d["wall_s"], 2.0)
        self.assertEqual(d["user_s"], 2.5)
        self.assertEqual(d["sys_s"], 0.4)
        self.assertEqual(d["child_cpu_s"], 0.25)
        self.assertEqual((d["minflt"], d["majflt"]), (1000, 2))
        self.assertEqual(d["steal_s"], 0.1)
        self.assertEqual(d["gc_s"], 1.5)


class SessionsTest(unittest.TestCase):
    def test_same_seed_same_calls(self):
        a = sessions.generate(7, 15000, 100, 20)
        self.assertEqual(a, sessions.generate(7, 15000, 100, 20))
        self.assertNotEqual(a, sessions.generate(8, 15000, 100, 20))
        self.assertEqual(len(a), 20)

    def test_tour_covers_every_method_once(self):
        methods = [m for _, m, _ in sessions.TOUR]
        self.assertEqual(sorted(methods), sorted(set(sessions.LITERALS) | {"summaryStats"}))
        self.assertTrue(all(t in sessions.DEFAULT_POINTS for t in sessions.TOUR))

    def test_sessions_open_on_the_home_page(self):
        block = sessions.generate(1, 15000, 100, 1)[0]
        self.assertEqual(block[0], ("home", "summaryStats", ()))
        self.assertEqual(sum(c[1] == "summaryStats" for c in block), sessions.BLOCK)

    def test_literals_stay_in_their_domains(self):
        for block in sessions.generate(3, 1000, 50, 100):
            for _, method, args in block:
                for role, v in zip(sessions.LITERALS.get(method, ()), args):
                    if role == "cutoff":
                        self.assertTrue(0 <= float(v) <= 1)
                        self.assertEqual(round(float(v), 2), float(v))
                    elif role == "entry":
                        self.assertTrue(1 <= int(v) <= 1000)
                    elif role == "domain":
                        self.assertTrue(0 <= int(v) < 50)

    def test_every_block_has_the_same_mix(self):
        n, blocks = 15000, sessions.generate(5, 15000, 100, 50, defaults=0)
        mixes = {tuple(sorted(k for k, _, _ in b)) for b in blocks}
        self.assertEqual(len(mixes), 1)
        kinds = mixes.pop()
        self.assertEqual(kinds.count("promiscuity"), 2)
        self.assertEqual(kinds.count("ec"), 1)
        for b in blocks:
            low, high = sorted(int(a[0]) for _, m, a in b if m == "entryGraphView")
            self.assertTrue(1 <= low <= n // 2 < high <= n)
            self.assertEqual(low + high, n + 1)

    def test_mode_pages_see_both_modes(self):
        for b in sessions.generate(6, 15000, 100, 50, defaults=0):
            searches = sorted(a[-1] for _, m, a in b if m == "searchEntries")
            self.assertEqual(searches, ["Any", "Best"])
            for method in ("parityViewerPayload", "ligandSimilarity"):
                modes = sorted(a[-1] for _, m, a in b if m == method)
                self.assertEqual(modes, ["Any", "Any", "Best", "Best"])

    def test_one_default_point_per_block(self):
        for seed in range(20):
            plain = sessions.generate(seed, 15000, 100, 1, defaults=0)[0]
            block = sessions.generate(seed, 15000, 100, 1)[0]
            changed = [x for x, y in zip(block, plain) if x != y]
            self.assertLessEqual(len(changed), 1)
            self.assertTrue(all(x in sessions.DEFAULT_POINTS for x in changed))

    def test_write_numbers_the_blocks(self):
        blocks = sessions.generate(2, 15000, 100, 2)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "calls.tsv")
            sessions.write(path, blocks)
            with open(path) as f:
                lines = [ln.rstrip("\n").split("\t") for ln in f]
        self.assertEqual(len(lines), sum(len(b) for b in blocks))
        self.assertEqual([ln[0] for ln in lines],
                         ["0"] * len(blocks[0]) + ["1"] * len(blocks[1]))
        self.assertEqual(tuple(lines[0][1:3]), blocks[0][0][:2])

    def test_traffic_stats_count_shares_and_literals(self):
        calls = [("home", "summaryStats", ()),
                 ("similarity", "ligandSimilarity", ("5", "0.5", "Best")),
                 ("similarity", "ligandSimilarity", ("5", "0.6", "Best"))]
        st = sessions.traffic_stats(calls)
        self.assertAlmostEqual(st["share"]["similarity"], 2 / 3)
        self.assertEqual(st["distinct_literals"]["cutoff"], 2)
        self.assertEqual(st["distinct_literals"]["entry"], 1)
        self.assertEqual(st["distinct_calls"], 3)


if __name__ == "__main__":
    unittest.main()
