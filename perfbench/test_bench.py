"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import tempfile
import unittest
from pathlib import Path

import bench_diff
import run
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertIsNone(stats.tail_percentile(list(range(39))))
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(199)))[0], 90)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)

    def test_tail_value_has_ten_above_it(self):
        xs = [float(i) for i in range(100)]
        p, v = stats.tail_percentile(xs)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)


class PairRuleTest(unittest.TestCase):
    def test_pair_wins_counts_ties_for_neither(self):
        self.assertEqual(stats.pair_wins([2, 2, 2], [1, 2, 3]), (1, 1, 1))
        self.assertEqual(stats.pair_wins([2, 2, 2], [1, 2, 3], better="higher"), (1, 1, 1))

    def test_gain_needs_nine_tenths_and_separation(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        faster = [x - 1.0 for x in parent]
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.1), "gain")
        # 8 of 10 pairs won is not enough
        mixed = faster[:8] + [x + 0.5 for x in parent[8:]]
        self.assertNotEqual(stats.verdict(parent, mixed, "lower", 0.1), "gain")

    def test_regression_beyond_bound(self):
        parent = [10.0] * 10
        self.assertEqual(stats.verdict(parent, [11.5] * 10, "lower", 0.1), "regression")
        self.assertEqual(stats.verdict(parent, [10.5] * 10, "lower", 0.1), "same")
        self.assertEqual(stats.verdict(parent, [8.5] * 10, "higher", 0.1), "regression")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0]
        self.assertEqual(stats.verdict(parent, list(parent), "lower", 0.1), "unresolved")


def _row(pass_, op, wall, ok=True, kind="query", **kw):
    return dict({"pass": pass_, "op": op, "kind": kind, "wall_s": wall, "ok": ok,
                 "traced": False, "plan_s": 0.0}, **kw)


class FailureCountingTest(unittest.TestCase):
    def test_errors_oracle_and_warm_mismatch_fail(self):
        rows = [_row("cold", "a", 1.0), _row("cold", "b", 2.0, ok=False, error="boom"),
                _row("cold", "c", 1.0),
                _row("warm1", "a", 0.5, same_as_cold=True), _row("warm1", "b", 2.0, ok=False),
                _row("warm1", "c", 0.5, same_as_cold=False)]
        attempted, failed = run.ops_failed(rows, {"a": True, "b": True, "c": True}, {})
        self.assertEqual((attempted, failed), (6, 3))
        attempted, failed = run.ops_failed(rows, {"a": False, "b": True, "c": True}, {})
        self.assertEqual((attempted, failed), (6, 5))

    def test_failed_operations_keep_their_time(self):
        rows = [_row("cold", "a", 1.0), _row("cold", "b", 4.0, ok=False),
                _row("burn", "a", 0.9, same_as_cold=True), _row("burn", "b", 5.0, ok=False),
                _row("warm1", "a", 0.5, same_as_cold=True), _row("warm1", "b", 3.0, ok=False)]
        run.ops_failed(rows, {"a": True, "b": True}, {})
        m = run.end_to_end("batch", rows, {"setup_s": [1.0], "peak_rss_mb": 100.0}, {})
        self.assertEqual(m["cold_total_s"], 5.0)
        self.assertEqual(m["warm_total_s"], 3.5)
        self.assertEqual(m["op_p50_s"], 1.75)

    def test_stream_checks_fail_their_operations(self):
        rows = [_row("cold", "ingest-run-0", 1.0, kind="ingest_run"),
                _row("cold", "dashboard-drain", 1.0, kind="dashboard_drain"),
                _row("warm", "ingest-run-1", 1.0, kind="ingest_run"),
                _row("warm", "ingest-run-2", 1.0, kind="ingest_run", ok=False),
                {"pass": "warm", "op": "drop-001", "kind": "drop", "latency_s": 1.0}]
        checks = {"ingest_ok": True, "dashboard_ok": False}
        self.assertEqual(run.ops_failed(rows, {}, checks), (4, 2))
        checks = {"ingest_ok": False, "dashboard_ok": True}
        self.assertEqual(run.ops_failed(rows, {}, checks), (4, 3))


class LedgerTest(unittest.TestCase):
    def _write(self, root, workload, seed, value, name):
        d = Path(root) / workload
        d.mkdir(parents=True, exist_ok=True)
        ledger = {"workload": workload, "seed": seed, "trace": 0, "attempted": 1, "failed": 0,
                  "end_to_end": {"warm_total_s": value}, "per_layer": {},
                  "rows": [_row("warm1", "q_x", value)]}
        (d / f"{name}.json").write_text(json.dumps(ledger))

    def test_load_and_pair_by_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for i, seed in enumerate([1, 2, 3]):
                self._write(a, "w", seed, 10.0 + seed, f"0{i}")
            for i, seed in enumerate([3, 1, 2]):
                self._write(b, "w", seed, 20.0 + seed, f"0{i}")
            pa, pb = bench_diff.load_ledgers(a), bench_diff.load_ledgers(b)
            self.assertEqual([r["seed"] for r in pa["w"]], [1, 2, 3])
            x, y = bench_diff.paired(pa["w"], pb["w"], "warm_total_s")
            self.assertEqual([v - 10 for v in x], [v - 20 for v in y])
            self.assertEqual(bench_diff.op_medians(pa["w"]), {"q_x": 12.0})

    def test_rejects_non_ledger(self):
        with tempfile.TemporaryDirectory() as a:
            p = Path(a) / "w"
            p.mkdir()
            (p / "x.json").write_text(json.dumps({"workload": "w"}))
            with self.assertRaises(ValueError):
                bench_diff.load_ledgers(a)


if __name__ == "__main__":
    unittest.main()
