"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class PercentileAndTail(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile([7.0], 99), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond it, p95 only 5
        label, value, n = metrics.tail(list(range(100)))
        self.assertEqual((label, n), ("p90", 100))
        self.assertAlmostEqual(value, metrics.percentile(range(100), 90))
        self.assertEqual(metrics.tail(list(range(1000)))[0], "p99")
        self.assertEqual(metrics.tail(list(range(99)))[0], "p75")
        self.assertEqual(metrics.tail(list(range(20)))[0], "p50")

    def test_tail_below_twenty_samples_is_the_max(self):
        self.assertEqual(metrics.tail([3.0, 9.0, 1.0]), ("max", 9.0, 3))


class SpanAccounting(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(1, 0, 0.0, 100.0),
                 # two overlapping children cover 10..50 once
                 self.span(2, 1, 10.0, 40.0), self.span(3, 1, 30.0, 50.0),
                 # a child running past its parent counts only inside it
                 self.span(4, 1, 90.0, 120.0),
                 self.span(5, 2, 15.0, 25.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 100.0 - 40.0 - 10.0)
        self.assertAlmostEqual(st[2], 30.0 - 10.0)
        self.assertAlmostEqual(st[5], 10.0)

    def test_decomposition_sums_to_the_span(self):
        d = metrics.decompose(0.0, 100.0, [(10.0, 30.0), (20.0, 40.0)],
                              [(35.0, 60.0), (70.0, 80.0), (-5.0, 2.0)])
        self.assertAlmostEqual(d["child"], 30.0)
        self.assertAlmostEqual(d["self_job"], 20.0 + 10.0 + 2.0)
        self.assertAlmostEqual(d["self_offjob"], 100.0 - 30.0 - 32.0)
        self.assertAlmostEqual(sum(d.values()), 100.0)


class OpenLoop(unittest.TestCase):
    def test_lateness_counts_sends_behind_schedule(self):
        on_time = metrics.lateness([0.5] * 1000)
        self.assertFalse(on_time["behind"])
        self.assertEqual(on_time["late_share"], 0.0)
        # a 2% stall of 300 ms sends is more than the 1% allowed
        stalled = metrics.lateness([0.5] * 980 + [300.0] * 20)
        self.assertTrue(stalled["behind"])
        self.assertAlmostEqual(stalled["late_share"], 0.02)
        self.assertEqual(stalled["max"], 300.0)

    def test_backlog_growth_compares_last_tenth_with_first(self):
        steady = [200.0 + (i % 7) for i in range(1000)]
        self.assertFalse(metrics.backlog_grew(steady)["grew"])
        growing = [200.0 + 5.0 * i for i in range(1000)]
        self.assertTrue(metrics.backlog_grew(growing)["grew"])


if __name__ == "__main__":
    unittest.main()
