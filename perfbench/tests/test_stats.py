"""Unit tests for the benchmark's own arithmetic.
Run from the repository root: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(i, name, start, end, parent=-1, op=1):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": op}


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)
        self.assertIsNone(stats.percentile(list(range(1, 100)), 0.9))
        self.assertIsNone(stats.percentile([], 0.9))

    def test_nearest_rank_ignores_input_order(self):
        xs = [float(x) for x in range(200, 0, -1)]
        self.assertEqual(stats.percentile(xs, 0.9), 180.0)
        self.assertEqual(stats.percentile(xs, 0.5), 100.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, "op", 0, 10), span(2, "construct", 0, 3, 1),
                 span(3, "exec", 3, 10, 1), span(4, "job", 4, 6, 3),
                 span(5, "job", 5, 8, 3), span(6, "stage", 4, 5, 4)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 0)          # construct + exec cover the op
        self.assertEqual(st[3], 7 - 4)      # jobs overlap: [4, 8] covered
        self.assertEqual(st[4], 2 - 1)
        self.assertEqual(st[6], 1)
        by_name = stats.self_time_by_name(spans)
        self.assertEqual(by_name["job"], 1 + 3)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, "exec", 0, 10), span(2, "job", 8, 14, 1), span(3, "job", -5, 1, 1)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 2 - 1)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class ExecArithmeticTest(unittest.TestCase):
    def test_core_use(self):
        self.assertEqual(stats.core_use(4000, 1000, 4), 1.0)
        self.assertEqual(stats.core_use(640, 1000, 4), 0.16)
        self.assertEqual(stats.core_use(10, 0, 4), 0.0)

    def test_sched_gap(self):
        self.assertEqual(stats.sched_gap_ms(1000, 2000, 4), 500)
        self.assertEqual(stats.sched_gap_ms(1000, 4000, 4), 0)

    def test_contamination(self):
        passes = [{"wall_ms": 1000, "other_cpu_ms": 100, "steal_ms": 0},
                  {"wall_ms": 1000, "other_cpu_ms": 600, "steal_ms": 40}]
        c = stats.contamination(passes, 4, [])
        self.assertEqual(c["worst_other_cpu_share"], 0.15)
        self.assertEqual(c["worst_steal_share"], 0.01)
        self.assertTrue(c["suspect"])
        clean = stats.contamination(passes[:1], 4, [])
        self.assertFalse(clean["suspect"])
        self.assertTrue(stats.contamination(passes[:1], 4, ["12:Other"])["suspect"])
        stolen = [{"wall_ms": 1000, "other_cpu_ms": 0, "steal_ms": 500}]
        self.assertTrue(stats.contamination(stolen, 4, [])["suspect"])
        unknown = stats.contamination([{"wall_ms": 5, "other_cpu_ms": -1, "steal_ms": -1}], 4, [])
        self.assertEqual(unknown["worst_other_cpu_share"], -1.0)
        self.assertFalse(unknown["suspect"])


def raw_run():
    ops = []
    for p, (a, b) in enumerate([(900, 300), (100, 50), (120, 40)]):
        ops.append({"pass": p, "op": "q1", "module": "operators", "span": 10 + p,
                    "construct_ms": a, "exec_ms": b, "traced": p != 2, "ok": True,
                    "counters": {"task_ms": 40.0, "jobs": 2.0}})
    # the untimed settling pass, which no metric may read
    ops.append({"pass": -1, "op": "q1", "module": "operators", "span": -1,
                "construct_ms": 0.0, "exec_ms": 0.0, "traced": False, "ok": True,
                "counters": {}})
    passes = [{"pass": p, "wall_ms": w, "traced": p != 2, "gc_ms": 5, "jit_ms": 70,
               "codecache_mb": 30.0, "other_cpu_ms": 0} for p, w in [(0, 1200), (1, 150), (2, 160)]]
    return {"ops": ops, "passes": passes, "peak_rss_mb": 900.0, "cores": 4,
            "session_start_ms": 2000.0, "derived_layout_bytes": 0, "product_bytes": 0,
            "spans": [span(11, "op", 0, 150, op=11), span(12, "exec", 100, 150, 11, 11)]}


class MetricSetTest(unittest.TestCase):
    def test_end_to_end(self):
        m, extra = stats.end_to_end(raw_run(), [4.0, 6.0, 5.0])
        self.assertEqual(m["setup_s"], (5.0, "s"))
        self.assertEqual(m["cold_s"], (1.2, "s"))
        self.assertEqual(m["warm_s"], (0.155, "s"))
        self.assertEqual(m["op_p50_ms"], (155.0, "ms"))
        self.assertIsNone(extra["op_p90_ms"][0])

    def test_op_p50_is_the_median_of_per_operation_medians(self):
        raw = {"ops": [{"pass": p, "op": op, "construct_ms": 0.0, "exec_ms": ms}
                       for op, times in (("a", (10, 11, 90)), ("b", (20, 21, 22)),
                                         ("c", (30, 31, 1)))
                       for p, ms in zip((1, 2, 3), times)]}
        self.assertEqual(stats.op_p50_ms(raw), 21)

    def test_per_layer(self):
        m = stats.per_layer(raw_run(), 1000, "query_mix")
        self.assertEqual(m["operators.construct_ms"][0], 100.0)
        self.assertEqual(m["exec.jobs"][0], 2.0)
        self.assertEqual(m["exec.core_use"][0], 40 / (150 * 4))
        self.assertEqual(m["exec.sched_gap_ms"][0], 150 - 10)
        self.assertEqual(m["cache.cold_tax_ms"][0], 1200 - 150)
        self.assertEqual(m["trace.overhead_frac"][0], 150 / 160 - 1)
        self.assertEqual(m["spans.exec_self_ms"][0], 50.0)
        self.assertEqual(m["sources.write_amp"][0], 0.0)

    def test_per_op(self):
        (q1,) = stats.per_op(raw_run())
        self.assertEqual(q1["cold_ms"], 1200)
        self.assertEqual(q1["warm_ms"], 155)
        # counters come from the traced warm pass only
        self.assertEqual(q1["construct_ms"], 100)
        self.assertEqual(q1["core_use"], 40 / (150 * 4))
        self.assertEqual(q1["jobs"], 2.0)
        self.assertEqual(q1["write_ms"], 0.0)


if __name__ == "__main__":
    unittest.main()
