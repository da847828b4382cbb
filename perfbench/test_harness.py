#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic and checks.

    python3 perfbench/test_harness.py
"""
import math
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pandas as pd  # noqa: E402

import metrics as M  # noqa: E402
import run as R  # noqa: E402


def sample(name, ok=True, elapsed=1.0):
    return {"name": name, "ok": ok, "elapsed_s": elapsed, "error": None if ok else "boom"}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n in (20, 24, 48, 75, 100, 1000, 2000, 5000):
            p = M.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p * n / 100), 10, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_known_values(self):
        self.assertEqual(M.tail_percentile(24), 58)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertIsNone(M.tail_percentile(19))  # p50 would leave only 9 beyond

    def test_nearest_rank_is_an_observed_value(self):
        xs = list(range(1, 25))
        self.assertEqual(M.nearest_rank(xs, 58), 14)  # 10 samples beyond it
        self.assertEqual(M.nearest_rank([5.0], 99), 5.0)

    def test_workloads_declare_supported_tails(self):
        for name, cfg in R.WORKLOADS.items():
            self.assertIsNotNone(cfg["tail"], name)


class FailedFraction(unittest.TestCase):
    def test_raised_and_wrong_calls_fail(self):
        passes = [{"traced": False, "queries": [sample("a"), sample("b", ok=False), sample("c")]},
                  {"traced": False, "queries": [sample("a"), sample("b"), sample("c")]}]
        attempted, failed = M.closed_loop_counts(passes, bad_results={"c"})
        self.assertEqual((attempted, failed), (6, 3))  # b once raised, c wrong twice

    def test_failure_misses_every_latency_limit(self):
        passes = [{"queries": [sample("a", elapsed=0.5), sample("b", ok=False, elapsed=0.1)]}]
        lat = M.query_latencies_ms(passes, bad_results=set())
        self.assertEqual(lat[0], 500.0)
        self.assertTrue(math.isinf(lat[1]))
        self.assertTrue(math.isinf(M.nearest_rank(lat, 99)))
        self.assertEqual(M.finite(M.nearest_rank(lat, 99)), 1e9)

    def test_failed_call_still_counts_in_pass_time(self):
        s = {"setup_end_ms": 2000.0, "jvm_start_ms": 0.0, "rss_hwm_mb": 1.0,
             "passes": [{"traced": False, "wall_s": 3.0,
                         "queries": [sample("a", elapsed=1.0), sample("b", ok=False, elapsed=2.0)]}]}
        cfg = {"min_samples": 2, "tail": 50}
        e2e, attempted, failed, info = R.closed_metrics(s, {}, cfg)
        self.assertEqual(e2e["pass_s"][0], 3.0)
        self.assertEqual((attempted, failed, info["failed_frac"]), (2, 1, 0.5))


class ResultCheck(unittest.TestCase):
    def test_planted_wrong_expected_result_is_caught(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d)
            df = pd.DataFrame({"k": ["x", "y"], "v": [1.5, 2.25]})
            for name in ("good", "planted"):
                (out / "results").mkdir(exist_ok=True)
                df.to_parquet(out / "results" / name)
            right = M.result_digest(df)
            wrong = M.result_digest(pd.DataFrame({"k": ["x", "y"], "v": [1.5, 2.5]}))
            warm = [sample("good"), sample("planted"), sample("raised", ok=False)]
            bad = R.check_results({"good": right, "planted": wrong}, out, warm)
            self.assertEqual(sorted(bad), ["planted", "raised"])

    def test_digest_ignores_row_and_column_order(self):
        a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
        b = pd.DataFrame({"v": [2, 1], "k": ["y", "x"]})
        self.assertEqual(M.result_digest(a), M.result_digest(b))


class SpanSelfTime(unittest.TestCase):
    def span(self, sid, start, end, parent=None):
        return {"id": sid, "start": start, "end": end, "parent": parent}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span("q", 0, 100),
                 self.span("a", 10, 40, "q"), self.span("b", 30, 50, "q"),  # overlap
                 self.span("c", 90, 130, "q"),                               # runs past parent
                 self.span("d", 12, 20, "a")]                                # grandchild
        st = M.self_times(spans)
        self.assertEqual(st["q"], 100 - (40 + 10))  # [10,50] and [90,100] covered
        self.assertEqual(st["a"], 30 - 8)
        self.assertEqual(st["d"], 8)

    def test_listener_spans_nest_under_harness_spans(self):
        records = [
            {"kind": "span", "id": "h1", "name": "build", "trace": "t", "parent": None,
             "start": 0.0, "end": 100.0},
            {"kind": "stream", "id": "sR", "run": "R", "query": "Q", "name": "stream",
             "trace": "t", "parent": "h1", "start": 5.0, "end": 90.0},
            {"kind": "batch", "run": "R", "query": "Q", "batch": 0, "start": 10.0, "end": 30.0,
             "trace": "t", "input_rows": 1, "durations": {}, "state": []},
            {"kind": "job_start", "job": 7, "start": 12.0, "trace": "t", "span": "h1",
             "stream_query": "Q", "batch": "0"},
            {"kind": "job_end", "job": 7, "end": 20.0, "ok": True},
            {"kind": "stage", "stage": 3, "attempt": 0, "job": 7, "start": 13.0, "end": 19.0},
        ]
        spans = {s["id"]: s for s in M.build_spans(records)}
        self.assertEqual(spans["j7"]["parent"], "bQ/0")
        self.assertEqual(spans["bQ/0"]["parent"], "sR")
        self.assertEqual(spans["g3.0"]["parent"], "j7")
        st = M.self_times(list(spans.values()))
        self.assertEqual(st["h1"], 100 - 85)
        self.assertEqual(st["sR"], 85 - 20)
        self.assertEqual(st["bQ/0"], 20 - 8)
        self.assertEqual(st["j7"], 8 - 6)


class LiveBacklog(unittest.TestCase):
    @staticmethod
    def batches(run, starts, files, symbols=50):
        return [{"run": run, "batch": i, "start": t, "input_rows": f * symbols}
                for i, (t, f) in enumerate(zip(starts, files))]

    def test_files_that_arrived_during_the_previous_batch_are_no_backlog(self):
        # 8 files/s, batches every second reading the 8 that arrived meanwhile
        steady = self.batches("A", [0, 1000, 2000, 3000], [40, 8, 8, 8])
        self.assertEqual(R.backlog_files_max(steady, 8.0, 50), 0.0)

    def test_files_left_from_earlier_batches_are_backlog(self):
        # the third batch of run B finds 6 files more than arrived since the second
        capped = self.batches("A", [0, 1000], [8, 8]) + \
            self.batches("B", [0, 1000, 2000], [8, 8, 14])
        self.assertEqual(R.backlog_files_max(capped, 8.0, 50), 6.0)


if __name__ == "__main__":
    unittest.main()
