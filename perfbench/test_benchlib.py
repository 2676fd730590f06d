"""Self-tests of the benchmark's pure code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import benchlib
from workloads import WORKLOADS


def span(i, parent, layer, start, end, **fields):
    return dict(id=i, parent=parent, layer=layer, name=layer, start=start, end=end, **fields)


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        for n in (11, 20, 40, 41, 99, 100, 1000):
            p = benchlib.tail_percentile(n)
            self.assertGreaterEqual(benchlib.samples_beyond(n, p), 10, n)
            # and it is the highest such percentile: one more sample's worth
            # of rank leaves fewer than ten
            self.assertLess(benchlib.samples_beyond(n, p + 1 / n + 1e-9), 10, n)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(benchlib.tail_percentile(10))

    def test_forty_samples_give_p75(self):
        self.assertAlmostEqual(benchlib.tail_percentile(40), 0.75)
        values = list(range(1, 41))
        self.assertEqual(benchlib.percentile(values, 0.75), 30)
        self.assertEqual(benchlib.samples_beyond(40, 0.75), 10)

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(benchlib.percentile([3, 1, 2], 1.0), 3)
        self.assertEqual(benchlib.percentile([5], 0.0), 5)

    def test_workload_tails_hold_with_fewest_samples(self):
        for name, w in WORKLOADS.items():
            n = len(w["queries"]) * w["min_warm"]
            p = benchlib.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(benchlib.samples_beyond(n, p), 10, name)


class SelfTimeTest(unittest.TestCase):
    def tree(self):
        return [
            span(0, -1, "query", 0, 100),
            span(1, 0, "build", 0, 30),
            span(2, 1, "job", 10, 20),
            span(3, 0, "execute", 30, 95),
            span(4, 3, "job", 40, 90),
            span(5, 4, "stage", 40, 60),
            span(6, 4, "stage", 50, 80),   # overlaps stage 5
            span(7, 3, "job", 92, 99),     # outlives its parent: clipped at 95
        ]

    def test_self_times_by_layer(self):
        spans = self.tree()
        st = benchlib.layer_self_times(benchlib.children_index(spans), spans[0])
        self.assertEqual(st["query"], 5)          # 95..100
        self.assertEqual(st["build"], 20)         # 0..10, 20..30
        self.assertEqual(st["job"], 10 + 10 + 3)  # 10..20, 80..90, 92..95
        self.assertEqual(st["stage"], 40)         # 40..80, counted once
        self.assertEqual(st["execute"], 10 + 2)   # 30..40, 90..92

    def test_self_times_add_up_to_wall(self):
        spans = self.tree()
        st = benchlib.layer_self_times(benchlib.children_index(spans), spans[0])
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_leaf_is_all_self(self):
        s = span(0, -1, "query", 5, 7.5)
        self.assertEqual(benchlib.layer_self_times({}, s), {"query": 2.5})


class DriftTest(unittest.TestCase):
    def test_flat_series_has_no_drift(self):
        self.assertEqual(benchlib.drift([2.0, 2.0, 2.0, 2.0]), 0.0)

    def test_growing_series_drifts_up(self):
        self.assertAlmostEqual(benchlib.drift([1.0, 1.0, 3.0, 3.0]), 1.0)

    def test_odd_length_skips_middle(self):
        # halves are [1, 2] and [4, 5]; median of all is 3
        self.assertAlmostEqual(benchlib.drift([1.0, 2.0, 3.0, 4.0, 5.0]), (4.5 - 1.5) / 3)

    def test_single_pass_has_no_drift(self):
        self.assertEqual(benchlib.drift([4.0]), 0.0)


class DigestTest(unittest.TestCase):
    def test_column_order_does_not_matter(self):
        a = benchlib.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = benchlib.digest(["a", "b"], [("x", 1), ("y", 2)])
        self.assertEqual(a, b)

    def test_row_order_does_not_matter(self):
        self.assertEqual(benchlib.digest(["a"], [(1,), (2,)]),
                         benchlib.digest(["a"], [(2,), (1,)]))

    def test_values_compare_exactly(self):
        self.assertNotEqual(benchlib.digest(["a"], [(0.1 + 0.2,)]),
                            benchlib.digest(["a"], [(0.3,)]))
        self.assertNotEqual(benchlib.digest(["a"], [(1,)]),
                            benchlib.digest(["a"], [(1.0,)]))

    def test_nan_and_signed_zero_fold(self):
        self.assertEqual(benchlib.canonical_value(float("nan")), "nan")
        self.assertEqual(benchlib.canonical_value(-0.0), benchlib.canonical_value(0.0))
        self.assertEqual(benchlib.digest(["a"], [(math.nan,)]),
                         benchlib.digest(["a"], [(float("nan"),)]))

    def test_column_names_count(self):
        self.assertNotEqual(benchlib.digest(["a"], [(1,)]), benchlib.digest(["b"], [(1,)]))

    def test_row_count(self):
        self.assertEqual(benchlib.digest(["a"], [(1,), (1,)])[1], 2)


class SummarizeTest(unittest.TestCase):
    def run_spans(self):
        """A run with a cold pass, two untraced warm passes and a check."""
        spans = [span(0, -1, "run", 0, 10000)]

        def add_pass(name, start, lengths, traced=False):
            p = span(len(spans), 0, "pass", start, start + sum(lengths), traced=traced)
            p["name"] = name
            spans.append(p)
            t = start
            for i, n in enumerate(lengths):
                q = span(len(spans), p["id"], "query", t, t + n, ok=True, compiles=i)
                q["name"] = f"q{i}"
                spans.append(q)
                spans.append(span(len(spans), q["id"], "build", t, t + n / 2, jobs=1))
                spans.append(span(len(spans), q["id"], "execute", t + n / 2, t + n,
                                  cpu_ns=1e9, jobs=2))
                t += n
        add_pass("cold", 2000, [1000, 1000])
        add_pass("warm", 4000, [400, 600])
        add_pass("warm", 5000, [500, 700])
        add_pass("check", 6000, [100, 100])
        return spans

    def test_end_to_end_metrics(self):
        env = {"retained_heap_mb": 100.0, "peak_rss_mb": 900.0,
               "session_create_s": 1.0, "tables_schema_s": 0.5}
        wl = {"queries": ["q0", "q1"], "min_warm": 2}
        r = benchlib.summarize(self.run_spans(), env, 500, wl, set())
        m = r["metrics"]
        self.assertEqual(m["setup_s"], 1.5)
        self.assertEqual(m["cold_pass_s"], 2.0)
        self.assertEqual(m["warm_pass_s"], 1.1)
        self.assertEqual(m["query_p50_s"], 0.55)
        self.assertEqual(m["query_tail_s"], 0.7)  # too few samples: the maximum
        self.assertEqual(m["task_cpu_s"], 2.0)
        self.assertEqual(m["codegen.compiles"], 1)
        self.assertEqual(m["build.jobs"], 2)
        self.assertEqual(m["sched.jobs"], 6)
        self.assertEqual((r["attempted"], r["failed"]), (8, 0))
        self.assertEqual(set(m), set(benchlib.END_TO_END) | set(benchlib.PER_LAYER))

    def test_mismatch_counts_as_failure_and_leaves_latencies(self):
        env = {"retained_heap_mb": 1.0, "peak_rss_mb": 1.0,
               "session_create_s": 1.0, "tables_schema_s": 0.5}
        wl = {"queries": ["q0", "q1"], "min_warm": 2}
        r = benchlib.summarize(self.run_spans(), env, 500, wl, {"q1"})
        self.assertEqual(r["failed"], 1)
        self.assertEqual(r["failed_queries"], ["q1"])
        self.assertEqual(r["samples"]["query_latencies"], 2)
        self.assertEqual(r["metrics"]["query_p50_s"], 0.45)


if __name__ == "__main__":
    unittest.main()
