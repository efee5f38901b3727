"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
sys.path.insert(0, str(BENCH / "tools"))
import steady  # noqa: E402


def op(cycle, t0_ms, t1_ms, ok=True, primary=True, read=False, kind="w", cpu1=0):
    return {"cycle": cycle, "t0": t0_ms * 1e6, "t1": t1_ms * 1e6, "ok": ok,
            "primary": primary, "read": read, "kind": kind, "cpu1": cpu1,
            "traced": False, "c": {}}


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.samples_beyond(20, 0.5), 10)
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)
        with self.assertRaises(metrics.UnsupportedPercentile):
            metrics.percentile(list(range(19)), 0.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(metrics.UnsupportedPercentile):
            metrics.percentile(list(range(99)), 0.9)

    def test_p99_of_a_short_run_is_refused(self):
        with self.assertRaises(metrics.UnsupportedPercentile):
            metrics.percentile(list(range(500)), 0.99)

    def test_nearest_rank_ignores_input_order(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3] * 4, 0.5), 3)


class WholeCycles(unittest.TestCase):
    def test_cut_cycle_is_dropped_whole(self):
        ops = [op(1, 0, 1), op(1, 1, 2), op(2, 2, 3), op(2, 3, 4), op(3, 4, 5)]
        kept = metrics.whole_cycles(ops, complete=[1, 2])
        self.assertEqual([o["cycle"] for o in kept], [1, 1, 2, 2])

    @staticmethod
    def run_of(n_complete):
        """Cycles of a slow write and a fast read, 100 ms each, then one
        cycle cut after its write; process CPU runs at two cores."""
        ops = []
        for c in range(1, n_complete + 2):
            t = (c - 1) * 100
            ops.append(op(c, t, t + 80, cpu1=(t + 80) * 2e6))
            if c <= n_complete:
                ops.append(op(c, t + 80, t + 100, primary=False, read=True,
                              cpu1=(t + 100) * 2e6))
        return {"timed": {"cpu0": 0, "complete_cycles": list(range(1, n_complete + 1))},
                "ops": ops, "rss_peak_mb": 1.0, "heap_live_mb": 1.0}

    def test_metrics_count_whole_cycles_only(self):
        m = metrics.end_to_end(self.run_of(22), [3.0, 1.0, 2.0])
        self.assertAlmostEqual(m["ops_per_s"], 44 / 2.2)
        self.assertAlmostEqual(m["latency_p50_ms"], 80)
        self.assertAlmostEqual(m["read_p50_ms"], 20)
        self.assertAlmostEqual(m["cpu_ms_per_op"], 2 * 2200 / 44)
        self.assertEqual(m["setup_s"], 2.0)

    def test_too_few_whole_cycles_are_refused(self):
        with self.assertRaises(metrics.UnsupportedPercentile):
            metrics.end_to_end(self.run_of(11), [1.0])  # 11 writes: no p50


class Failures(unittest.TestCase):
    def test_ops_and_gates_are_attempts(self):
        ops = [op(1, 0, 1), op(1, 1, 2, ok=False), op(2, 2, 3)]
        gates = [{"ok": True}, {"ok": False}]
        self.assertEqual(metrics.failure_count(ops, gates), (5, 2))

    def test_trimmed_ops_still_count(self):
        ops = [op(1, 0, 1), op(2, 1, 2, ok=False)]  # cycle 2 is cut, failed
        self.assertEqual(metrics.failure_count(ops, []), (2, 1))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 60)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 100), [(-10, 10), (90, 200)]), 80)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(2, 8), (3, 4), (12, 15)]), 4)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 9), []), 4)


class Overhead(unittest.TestCase):
    def test_geometric_mean_of_per_kind_ratios(self):
        u = [op(1, 0, 100, kind="a"), op(1, 0, 10, kind="b")]
        t = [op(2, 0, 121, kind="a"), op(2, 0, 10, kind="b")]
        self.assertAlmostEqual(metrics.tracing_overhead_pct(u, t), 10.0)


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_the_reported_metrics(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, u) for n, u, _ in metrics.PER_LAYER])


class Steadiness(unittest.TestCase):
    def test_quartile_spread(self):
        s = steady.spread([10, 10, 10, 10, 10, 11, 11, 11, 12, 9])
        self.assertGreater(s["median"], 0)
        self.assertGreaterEqual(s["iqr_share"], 0)

    def test_aa_compare_flags_a_worse_median(self):
        spec = {"end_to_end": [{"name": "latency_ms", "better": "lower", "bound": 0.1}]}
        ok = steady.compare({"latency_ms": [10.0] * 5}, {"latency_ms": [10.5] * 5}, spec)
        bad = steady.compare({"latency_ms": [10.0] * 5}, {"latency_ms": [11.5] * 5}, spec)
        self.assertTrue(all(r["ok"] for r in ok))
        self.assertFalse(all(r["ok"] for r in bad))


if __name__ == "__main__":
    unittest.main()
