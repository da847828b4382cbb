#!/usr/bin/env python3
"""Tests for ab_pairs: the win/tie count, the 9/10 boundary, the IQR rule,
and the alternating run order. Run: python3 scripts/test_ab_pairs.py"""
import json
import os
import subprocess
import sys
import tempfile
import textwrap
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from ab_pairs import quartiles, score, verdict  # noqa: E402


class VerdictTest(unittest.TestCase):

    # parent runs 10..19 s: median 14.5, IQR 4.5 (q1 12.25, q3 16.75)
    PARENT = [float(x) for x in range(10, 20)]

    def test_quartiles_interpolate(self):
        self.assertEqual(quartiles(self.PARENT), (12.25, 14.5, 16.75))
        self.assertEqual(quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_ties_count_for_neither_side(self):
        self.assertEqual(score([5, 5, 5], [5, 4, 6], "lower"), (1, 1, 1))
        self.assertEqual(score([5, 5, 5], [5, 4, 6], "higher"), (1, 1, 1))

    def test_nine_of_ten_wins_is_a_gain(self):
        change = [x - 6 for x in self.PARENT]
        change[0] = self.PARENT[0] + 1  # one loss
        gain, wins, losses, ties, gap, iqr = verdict(self.PARENT, change, "lower")
        self.assertEqual((wins, losses, ties), (9, 1, 0))
        self.assertTrue(gain)

    def test_eight_wins_and_a_tie_is_not(self):
        change = [x - 6 for x in self.PARENT]
        change[0] = self.PARENT[0] + 1  # a loss
        change[1] = self.PARENT[1]      # a tie: not a win, still a pair
        gain, wins, losses, ties, _, _ = verdict(self.PARENT, change, "lower")
        self.assertEqual((wins, losses, ties), (8, 1, 1))
        self.assertFalse(gain)

    def test_gap_must_exceed_the_parent_iqr(self):
        # every pair a win, but the medians 4.0 apart: inside the 4.5 IQR
        change = [x - 4 for x in self.PARENT]
        gain, wins, _, _, gap, iqr = verdict(self.PARENT, change, "lower")
        self.assertEqual(wins, 10)
        self.assertEqual((gap, iqr), (4.0, 4.5))
        self.assertFalse(gain)
        # 4.6 apart: outside it
        change = [x - 4.6 for x in self.PARENT]
        self.assertTrue(verdict(self.PARENT, change, "lower")[0])

    def test_direction_higher(self):
        change = [x + 5 for x in self.PARENT]
        self.assertTrue(verdict(self.PARENT, change, "higher")[0])
        self.assertFalse(verdict(self.PARENT, change, "lower")[0])

    def test_fewer_than_ten_pairs_is_not_a_gain(self):
        parent, change = self.PARENT[:9], [x - 10 for x in self.PARENT[:9]]
        gain, wins, _, _, _, _ = verdict(parent, change, "lower")
        self.assertEqual(wins, 9)
        self.assertFalse(gain)


FAKE_RUN = textwrap.dedent("""\
    import json, os, sys
    seed = int(sys.argv[sys.argv.index("--seed") + 1])
    side = os.path.basename(os.getcwd())
    with open(os.environ["AB_LOG"], "a") as f:
        f.write(f"{side} {seed}\\n")
    t = 20.0 - (5.0 if side == "change" else 0.0) + seed % 3
    print(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {
        "pass_s": {"value": t, "unit": "s"},
        "throughput_per_s": {"value": 1.0 / t, "unit": "1/s"}}}))
""")


class MainTest(unittest.TestCase):

    def test_alternating_pairs_and_report(self):
        with tempfile.TemporaryDirectory() as tmp:
            for side in ("parent", "change"):
                os.makedirs(os.path.join(tmp, side, "perfbench"))
                with open(os.path.join(tmp, side, "perfbench", "run.py"), "w") as f:
                    f.write(FAKE_RUN)
            with open(os.path.join(tmp, "change", "BENCHMARK.json"), "w") as f:
                json.dump({"end_to_end": [{"name": "pass_s", "better": "lower"},
                                          {"name": "throughput_per_s", "better": "higher"}]}, f)
            log, out = os.path.join(tmp, "log"), os.path.join(tmp, "runs.json")
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "ab_pairs.py"),
                 "--parent", os.path.join(tmp, "parent"), "--change", os.path.join(tmp, "change"),
                 "--workload", "keyed-state", "--pairs", "10", "--seconds", "1",
                 "--seed0", "7", "--claim", "pass_s", "--out", out],
                capture_output=True, text=True, env=dict(os.environ, AB_LOG=log))
            self.assertEqual(res.returncode, 0, res.stderr)
            with open(log) as f:
                order = [line.split() for line in f.read().splitlines()]
            # each pair runs both sides on one seed; the first side alternates
            expected = []
            for i in range(10):
                sides = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                expected += [[s, str(7 + i)] for s in sides]
            self.assertEqual(order, expected)
            self.assertIn("10 wins, 0 losses, 0 ties of 10", res.stdout)
            self.assertIn("verdict: GAIN", res.stdout)
            with open(out) as f:
                self.assertEqual(len(json.load(f)["runs"]["change"]), 10)


if __name__ == "__main__":
    unittest.main()
