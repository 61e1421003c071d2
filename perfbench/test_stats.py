"""Self-tests of the benchmark's statistics (run: python3 perfbench/run.py
--selftest, or python3 -m unittest discover perfbench)."""

import unittest

import stats


def span(id_, parent, start, end, kind="x"):
    return {"id": id_, "parent": parent, "kind": kind, "name": id_,
            "start_ms": start, "end_ms": end}


class PercentileRule(unittest.TestCase):

    def test_highest_ladder_percentile_with_ten_beyond(self):
        # 75 samples: p90 leaves 7 beyond, p85 leaves 11
        self.assertEqual(stats.tail_percentile(75), 85)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_every_chosen_percentile_leaves_ten_beyond(self):
        for n in range(20, 400):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            v = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0))

    def test_nearest_rank(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertEqual(stats.percentile(xs, 50), 50.0)
        self.assertEqual(stats.percentile(xs, 85), 85.0)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = (2.75, 5.5, 8.25)  # statistics.quantiles, exclusive
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class SelfTime(unittest.TestCase):

    def test_duration_minus_covered_children(self):
        spans = [span("op", "", 0, 100),
                 span("a", "op", 10, 40), span("b", "op", 30, 60),
                 span("c", "op", 90, 120)]   # runs past its parent
        st = stats.self_times(spans)
        # children cover [10, 60] and [90, 100] inside the op: 60 ms
        self.assertAlmostEqual(st["op"], 40.0)
        self.assertAlmostEqual(st["a"], 30.0)
        self.assertAlmostEqual(st["c"], 30.0)

    def test_grandchildren_do_not_count_against_the_grandparent(self):
        spans = [span("r", "", 0, 10), span("k", "r", 0, 4),
                 span("g", "k", 0, 4)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["r"], 6.0)
        self.assertAlmostEqual(st["k"], 0.0)

    def test_open_spans_are_skipped(self):
        st = stats.self_times([span("r", "", 0, None)])
        self.assertEqual(st, {})

    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(stats.union_length([]), 0)


class Summaries(unittest.TestCase):

    def run_record(self):
        ops = [{"name": "q%d" % (i % 25), "timed": True, "ok": i != 3,
                "total_s": 1.0 + i / 100.0, "construct_s": 0.5,
                "action_s": 0.5 + i / 100.0, "error": "" if i != 3 else "x"}
               for i in range(50)]
        return {"workload": "catalog", "setup_s": 9.0, "peak_rss_mb": 700.0,
                "pass_walls_s": [30.0, 31.0], "pass_cpu_s": [50.0, 52.0],
                "ops": ops, "info": {}}

    def test_end_to_end_takes_medians_and_the_tail_rule(self):
        e2e, samples = stats.end_to_end(self.run_record())
        self.assertEqual(samples["op_samples"], 50)
        self.assertEqual(samples["op_tail_percentile"], 80)
        self.assertAlmostEqual(samples["op_tail_s"], 1.39)
        self.assertEqual(e2e["wall_s"], 30.5)
        self.assertAlmostEqual(samples["op_p50_s"], 1.24)
        # slowest op by its median over passes: q24 ran 1.24 s and 1.49 s
        self.assertAlmostEqual(samples["op_max_s"], (1.24 + 1.49) / 2)
        self.assertEqual(set(e2e), {n for n, _ in stats.END_TO_END})

    def test_failures_are_counted_against_attempts(self):
        m = stats.workload_metrics(self.run_record())
        self.assertEqual(m["fail_ratio"], 1 / 50)
        self.assertEqual(stats.per_op(self.run_record())["q3"]["errors"],
                         ["x"])


if __name__ == "__main__":
    unittest.main()
