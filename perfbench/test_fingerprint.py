#!/usr/bin/env python3
"""DuckDB-side fingerprint rule, pinned to the value HarnessSpec pins for the
Scala side: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import datetime as dt
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from make_fingerprints import fingerprint  # noqa: E402


class FingerprintTest(unittest.TestCase):
    def test_pinned_value(self):
        rows = [(1.5, 7, "x", dt.date(2001, 2, 3), [1.0, 2.0]),
                (None, -2, "y", None, [])]
        self.assertEqual(fingerprint(["b", "A", "c", "d", "e"], rows),
                         (2, "934c418a4a45acef"))

    def test_order_independent(self):
        rows = [(1, "a"), (2, "b"), (3, None)]
        self.assertEqual(fingerprint(["k", "v"], rows), fingerprint(["k", "v"], rows[::-1]))


if __name__ == "__main__":
    unittest.main()
