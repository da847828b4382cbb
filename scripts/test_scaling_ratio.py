#!/usr/bin/env python3
"""Tests for scaling_ratio.read_pair_observables' per-observable error
entries. Run: python3 scripts/test_scaling_ratio.py"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_ratio import PAIR_GOVERNED, read_pair_observables  # noqa: E402

OBSERVABLES = sorted(set(PAIR_GOVERNED.values()))


def write_rows(verify_dir, name, rows):
    os.makedirs(os.path.join(verify_dir, name), exist_ok=True)
    pd.DataFrame(rows).to_parquet(
        os.path.join(verify_dir, name, "part-0.parquet"), index=False)


class ReadPairObservablesTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name
        for name in OBSERVABLES:
            write_rows(self.dir, name, [{"candidate_pairs": 7, "max_df": 3}])

    def tearDown(self):
        self.tmp.cleanup()

    def test_one_row_is_read(self):
        obs = read_pair_observables(self.dir)
        for name in OBSERVABLES:
            self.assertEqual(obs[name], {"candidate_pairs": 7, "max_df": 3})

    def test_corrupt_file_is_an_error_entry(self):
        bad, good = OBSERVABLES[0], OBSERVABLES[1]
        with open(os.path.join(self.dir, bad, "part-0.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        obs = read_pair_observables(self.dir)
        self.assertIn("unreadable", obs[bad]["error"])
        self.assertEqual(obs[good]["candidate_pairs"], 7)

    def test_two_rows_is_an_error_entry(self):
        two, good = OBSERVABLES[0], OBSERVABLES[1]
        write_rows(self.dir, two, [{"candidate_pairs": 7}, {"candidate_pairs": 8}])
        obs = read_pair_observables(self.dir)
        self.assertIn("exactly 1 row", obs[two]["error"])
        self.assertIn("got 2", obs[two]["error"])
        self.assertEqual(obs[good]["candidate_pairs"], 7)

    def test_missing_output_is_an_error_entry(self):
        empty = tempfile.mkdtemp(dir=self.dir)
        obs = read_pair_observables(empty)
        for name in OBSERVABLES:
            self.assertIn("no parquet", obs[name]["error"])


if __name__ == "__main__":
    unittest.main()
