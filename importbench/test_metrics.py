"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s importbench -p 'test_*.py'
"""

import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_values_above_from_a_hundred_on(self):
        xs = list(range(1, 201))  # 200 values: the 190th has 10 above it
        self.assertEqual(metrics.tail(xs), (190, 95.0))
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0))

    def test_p90_below_a_hundred(self):
        # 40 values: nearest-rank p90 is the 36th smallest
        self.assertEqual(metrics.tail(list(range(1, 41))), (36, 90.0))

    def test_eleven_and_fifteen_stay_in_the_tail(self):
        # one op more than ten must not drop the tail to the fastest op
        self.assertEqual(metrics.tail(list(range(1, 12))), (10, 90.0))
        self.assertEqual(metrics.tail(list(range(1, 16))), (14, 90.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs), (11.0, 90.0))

    def test_nine_or_fewer_gives_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 90.0))
        self.assertEqual(metrics.tail(list(range(9))), (8, 90.0))
        self.assertEqual(metrics.tail([4.0]), (4.0, 90.0))
        self.assertEqual(metrics.tail(list(range(10))), (8, 90.0))

    def test_never_below_the_median(self):
        for n in range(1, 150):
            xs = list(range(n))
            self.assertGreaterEqual(metrics.tail(xs)[0], xs[(n - 1) // 2])


class GapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # jobs cover [1, 4] and [5, 6] of a 10 s op
        jobs = [[1.0, 3.0], [2.0, 4.0], [5.0, 6.0]]
        self.assertAlmostEqual(metrics.union_length(jobs, 0.0, 10.0), 4.0)
        self.assertAlmostEqual(metrics.gap(10.0, jobs), 6.0)

    def test_nested_and_touching_jobs(self):
        jobs = [[0.0, 5.0], [1.0, 2.0], [5.0, 7.0]]
        self.assertAlmostEqual(metrics.gap(8.0, jobs), 1.0)

    def test_jobs_clipped_to_the_op(self):
        # job times are whole milliseconds, so one may poke past the op
        jobs = [[-0.001, 0.5], [0.9, 1.002]]
        self.assertAlmostEqual(metrics.gap(1.0, jobs), 0.4)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.gap(2.5, []), 2.5)


class ReadAmpTest(unittest.TestCase):
    def test_ratio_to_one_pass(self):
        # target 1000 + delta 100 rows; the op read the target four times
        # and the delta twice
        self.assertAlmostEqual(metrics.read_amp(4 * 1000 + 2 * 100, 1100), 4200 / 1100)

    def test_single_pass_is_one(self):
        self.assertEqual(metrics.read_amp(1100, 1100), 1.0)


class SelfTimeTest(unittest.TestCase):
    SPANS = [
        ["op", 1, -1, 0.0, 10.0],
        ["sink.write", 2, 1, 2.0, 9.0],
        ["jdbc.batch", 3, 2, 3.0, 5.0],
        ["jdbc.batch", 4, 2, 6.0, 7.0],
        ["importer.count", 5, 1, 0.5, 2.0],
    ]

    def test_self_times_add_up_to_the_op(self):
        st = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(st["sink.write"], 4.0)
        self.assertAlmostEqual(st["jdbc.batch"], 3.0)
        self.assertAlmostEqual(st["op"], 1.5)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_jobs_within_a_layer(self):
        jobs = [[0.6, 0.9], [1.5, 1.8], [2.5, 3.0]]
        self.assertEqual(metrics.jobs_within(jobs, self.SPANS, "importer."), 2)


def _op(i, wall, traced=False, ok=True, **extra):
    return dict(i=i, wall_s=wall, traced=traced, ok=ok, error=None,
                gc_s=0.01, heap_mb=100.0 + i, **extra)


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        raw = {"rows_per_op": 100, "scan_base": 1100,
               "setup": {"session_s": 2.0, "gen_s": [1.0, 3.0, 1.5], "warm_s": 4.0},
               "ops": [_op(0, 1.0), _op(1, 2.0, ok=False), _op(2, 3.0)]}
        m, info = metrics.end_to_end(raw)
        self.assertEqual(m["op_s"][0], 2.0)   # median of the ops that passed
        self.assertEqual(m["op_s_tail"][0], 3.0)
        self.assertAlmostEqual(m["ok_ratio"][0], 2 / 3)
        self.assertAlmostEqual(m["rows_per_s"][0], 200 / 4.0)
        self.assertAlmostEqual(m["setup_s"][0], 2.0 + 1.5 + 4.0)
        self.assertEqual(m["heap_peak_mb"][0], 102.0)
        self.assertEqual(info["ops"], 3)

    def test_per_layer(self):
        spans = [["op", 1, -1, 0.0, 2.0], ["importer.init", 2, 1, 0.0, 1.0],
                 ["sink.write", 3, 1, 1.0, 2.0]]
        tasks = dict(n=3, cpu_s=0.5, records_read=2200, shuffle_bytes=10,
                     spill_bytes=0, output_bytes=5)
        raw = {"rows_per_op": 100, "scan_base": 1100, "setup": {},
               "ops": [_op(0, 2.0, traced=True, spans=spans, jobs=[[0.2, 0.4], [1.2, 1.9]],
                           tasks=tasks, counts={"staging.files": 4.0}),
                       _op(1, 1.6)]}
        m = metrics.per_layer(raw)
        self.assertEqual(m["importer.init_s"][0], 1.0)
        self.assertEqual(m["trace.unattributed_s"][0], 0.0)
        self.assertEqual(m["importer.jobs"][0], 1)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertAlmostEqual(m["spark.gap_s"][0], 2.0 - 0.9)
        self.assertEqual(m["spark.read_amp"][0], 2.0)
        self.assertEqual(m["staging.files"][0], 4.0)
        self.assertEqual(m["jdbc.batches"][0], 0.0)
        self.assertAlmostEqual(m["trace.overhead"][0], 2.0 / 1.6)


if __name__ == "__main__":
    unittest.main()
