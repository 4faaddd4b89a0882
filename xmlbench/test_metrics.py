"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s xmlbench -p 'test_*.py'
"""

import unittest

import metrics


def span(id, parent, start, end, name="x", trace=1, **attrs):
    return {"trace": trace, "id": id, "parent": parent, "name": name,
            "start_ns": start, "end_ns": end, "attrs": attrs}


class MedianAndTail(unittest.TestCase):

    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(metrics.percentile(xs, 0.90), 90.1)
        self.assertEqual(metrics.percentile(xs, 0.0), 1)
        self.assertEqual(metrics.percentile(xs, 1.0), 100)
        self.assertEqual(metrics.percentile([7], 0.9), 7)

    def test_percentile_ignores_input_order(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_samples_beyond_the_tail(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.beyond(xs, 0.90), 10)
        self.assertEqual(metrics.beyond(list(range(1, 201)), 0.95), 10)
        self.assertEqual(metrics.beyond([1.0] * 50, 0.90), 0)


class Rates(unittest.TestCase):

    def test_mb_per_s_is_decimal(self):
        self.assertEqual(metrics.mb_per_s(50_000_000, 2.0), 25.0)

    def test_mb_per_s_needs_time(self):
        with self.assertRaises(ValueError):
            metrics.mb_per_s(1, 0)

    def test_failed_ratio(self):
        self.assertEqual(metrics.failed_ratio(0, 80), 0.0)
        self.assertEqual(metrics.failed_ratio(2, 8), 0.25)
        with self.assertRaises(ValueError):
            metrics.failed_ratio(0, 0)

    def test_attempted_and_failed_count_samples_and_checks(self):
        result = {"samples": [{"ok": True}, {"ok": False}, {"ok": True}],
                  "checks": [{"ok": True}, {"ok": False}]}
        self.assertEqual(metrics.attempted_failed(result), (5, 2))


class SelfTime(unittest.TestCase):

    def test_union_of_overlapping_children(self):
        self.assertEqual(metrics.covered((0, 100), [(10, 30), (20, 40), (60, 70)]), 40)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(metrics.covered((0, 100), [(-50, 10), (90, 200), (300, 400)]), 20)

    def test_self_time_subtracts_only_direct_children(self):
        spans = [
            span(1, -1, 0, 100),
            span(2, 1, 10, 50),
            span(3, 2, 20, 30),   # grandchild: inside 2, not counted against 1 again
            span(4, 1, 40, 60),   # overlaps 2
            span(5, -1, 0, 10, trace=9),
        ]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[1], 100 - 50)
        self.assertEqual(selfs[2], 40 - 10)
        self.assertEqual(selfs[3], 10)
        self.assertEqual(selfs[5], 10)

    def test_children_of_another_trace_do_not_count(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 100, trace=2)]
        self.assertEqual(metrics.self_times(spans)[1], 100)


class EndToEnd(unittest.TestCase):

    def result(self):
        samples = []
        for i, kind in enumerate(metrics.KINDS):
            for s in (1.0, 2.0, 3.0):
                samples.append({"op": kind, "s": s + i, "bytes": 1_000_000, "ok": True,
                                "cycle": 0, "traced": False})
        samples.append({"op": "read_full", "s": 99.0, "bytes": 1_000_000, "ok": False,
                        "cycle": 0, "traced": False})
        return {"setup_s": [9.0, 2.0, 3.0], "peak_rss_mb": 512.0, "samples": samples, "checks": []}

    def test_metrics_and_units(self):
        out = metrics.end_to_end(self.result())
        self.assertEqual(out["setup_s"][:2], (3.0, "s"))
        self.assertEqual(out["read_full_s"][:2], (2.0, "s"))  # the failed sample is left out
        self.assertEqual(out["stream_drain_s"][0], 9.0)
        ok_seconds = sum(s + i for i in range(8) for s in (1.0, 2.0, 3.0))
        self.assertAlmostEqual(out["xml_mb_per_s"][0], 24 / ok_seconds)
        self.assertEqual(out["op_p50_s"][0], metrics.median(
            [s + i for i in range(8) for s in (1.0, 2.0, 3.0)]))
        self.assertEqual(out["op_p95_s"][1], "s")

    def test_an_op_that_never_succeeds_is_still_timed(self):
        result = self.result()
        for s in result["samples"]:
            if s["op"] == "infer":
                s["ok"] = False
        self.assertEqual(metrics.end_to_end(result)["infer_s"][:2], (5.0, "s"))

    def test_sample_counts_are_reported(self):
        out = metrics.end_to_end(self.result())
        self.assertEqual(out["read_full_s"][2], "n=3")
        self.assertEqual(out["op_p95_s"][2], "n=24, 1 beyond")


class Traced(unittest.TestCase):

    def test_overhead_is_the_median_cycle_difference(self):
        samples = [
            {"s": 1.0, "cycle": 0, "traced": False}, {"s": 1.5, "cycle": 0, "traced": True},
            {"s": 2.0, "cycle": 1, "traced": False}, {"s": 2.1, "cycle": 1, "traced": True},
            {"s": 1.0, "cycle": 2, "traced": False}, {"s": 1.3, "cycle": 2, "traced": True},
        ]
        self.assertAlmostEqual(metrics.tracing_overhead(samples), 0.3)


if __name__ == "__main__":
    unittest.main()
