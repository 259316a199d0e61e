"""Tests of the benchmark's own metric code: python3 -m unittest discover perfbench"""
import unittest

import stats


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # an AQE/broadcast job nested in a longer one adds no wall time
        self.assertEqual(stats.union_ms([(0, 100), (10, 60), (50, 120)]), 120)

    def test_disjoint_jobs_add(self):
        self.assertEqual(stats.union_ms([(0, 10), (20, 30)]), 20)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_ms([(-50, 10), (90, 200)], lo=0, hi=100), 20)

    def test_sum_overcounts_where_union_does_not(self):
        jobs = [(0, 1000), (0, 1000), (200, 900)]
        self.assertEqual(sum(e - s for s, e in jobs), 2700)
        self.assertEqual(stats.union_ms(jobs), 1000)

    def test_empty(self):
        self.assertEqual(stats.union_ms([]), 0.0)


class QueryP50Test(unittest.TestCase):
    @staticmethod
    def ex(q, ms, error=None):
        return {"query": q, "build_ms": ms - 1.0, "mat_ms": 1.0, "error": error}

    def test_mean_of_per_query_medians(self):
        xs = [self.ex("a", v) for v in (100, 110, 900)] + [self.ex("b", v) for v in (3000, 3100, 2900)]
        self.assertEqual(stats.query_p50(xs), (110 + 3000) / 2)

    def test_failed_executions_are_left_out(self):
        xs = [self.ex("a", 100), self.ex("a", 5000, error="boom")]
        self.assertEqual(stats.query_p50(xs), 100)

    def test_empty(self):
        self.assertEqual(stats.query_p50([]), 0.0)


class TailTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_twenty_samples_reach_the_median_only(self):
        p, v, n, beyond = stats.tail(list(range(1, 21)))
        self.assertEqual((p, v, n, beyond), (50.0, 10, 20, 10))

    def test_hundred_samples_reach_p90(self):
        p, v, n, beyond = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, beyond), (90.0, 90, 10))

    def test_highest_rung_with_ten_beyond(self):
        p, _, _, beyond = stats.tail(list(range(1000)))
        self.assertEqual((p, beyond), (99.0, 10))


class ProcTest(unittest.TestCase):
    STAT0 = "cpu  4705 356 584 3699 23 23 0 120 0 0"
    STAT1 = "cpu  4805 356 600 3799 23 23 0 175 0 0"

    def test_steal_field(self):
        self.assertEqual(stats.proc_stat_steal(self.STAT0), 120)

    def test_steal_ms_uses_clock_ticks(self):
        self.assertEqual(stats.steal_ms(self.STAT0, self.STAT1, 100), 550.0)

    def test_per_cpu_or_short_lines_are_rejected(self):
        self.assertIsNone(stats.proc_stat_steal("cpu0 1 2 3 4 5 6 7 8"))
        self.assertIsNone(stats.proc_stat_steal("cpu  1 2 3"))
        self.assertIsNone(stats.steal_ms("", self.STAT1, 100))

    def test_pressure_total(self):
        a = "some avg10=0.00 avg60=0.12 avg300=0.40 total=1000000"
        b = "some avg10=1.00 avg60=0.50 avg300=0.40 total=1250500"
        self.assertEqual(stats.psi_total_us(a), 1000000)
        self.assertEqual(stats.pressure_ms(a, b), 250.5)
        self.assertIsNone(stats.psi_total_us("full avg10=0.00 total=5"))


class SelfTimeTest(unittest.TestCase):
    def test_child_cover_is_subtracted_once(self):
        spans = [(1, 0, "cycle:0", 0, 100),
                 (2, 1, "query:q_a", 0, 60),
                 (3, 2, "build", 0, 20),
                 (4, 2, "materialize", 20, 60),
                 (5, 4, "job", 25, 50),
                 (6, 4, "job", 30, 55)]
        got = stats.self_times(spans)
        self.assertEqual(got["cycle"], 40)
        self.assertEqual(got["query"], 0)
        self.assertEqual(got["build"], 20)
        self.assertEqual(got["materialize"], 10)
        self.assertEqual(got["job"], 50)


if __name__ == "__main__":
    unittest.main()
