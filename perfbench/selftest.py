"""Self-tests: every correctness check the workloads use rejects a
deliberately wrong output and accepts the right one.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
from harness import ROOT  # noqa: E402

sys.path.insert(0, ROOT)


class FifoCheck(unittest.TestCase):
    def test_swapped_pair_is_rejected(self):
        popped = [checks.record(i, 7) for i in range(10)]
        self.assertEqual(checks.fifo_mismatch(popped, 0, 7), 0)
        popped[3], popped[4] = popped[4], popped[3]
        self.assertEqual(checks.fifo_mismatch(popped, 0, 7), 2)

    def test_dry_pop_and_other_seed_are_rejected(self):
        self.assertEqual(checks.fifo_mismatch([None], 0, 7), 1)
        self.assertEqual(
            checks.fifo_mismatch([checks.record(0, 8)], 0, 7), 1)


class RelayCheck(unittest.TestCase):
    def setUp(self):
        self.src = [(i, i * 10, i % 3, "click", i / 4, '{"k": 1}')
                    for i in range(20)]
        self.a = [(i + 1,) + row for i, row in enumerate(self.src)]

    def test_intact_relay_passes(self):
        self.assertEqual(
            checks.relay_mismatch(self.src, self.a, list(self.a),
                                  list(self.src)), 0)

    def test_missing_row_is_rejected(self):
        # row 8 dropped, seq renumbered so it runs 1..19 without a gap
        b = [(k,) + r[1:]
             for k, r in enumerate(self.a[:7] + self.a[8:], 1)]
        self.assertGreater(
            checks.relay_mismatch(self.src, self.a, b, list(self.src)), 0)
        self.assertGreater(
            checks.relay_mismatch(self.src, self.a, list(self.a),
                                  self.src[1:]), 0)

    def test_seq_gap_and_reorder_are_rejected(self):
        gap = self.a[:5] + [(r[0] + 1,) + r[1:] for r in self.a[5:]]
        self.assertGreater(
            checks.relay_mismatch(self.src, self.a, gap, list(self.src)), 0)
        swapped = list(self.a)
        swapped[2], swapped[3] = ((3,) + self.a[3][1:],
                                  (4,) + self.a[2][1:])
        self.assertEqual(
            checks.relay_mismatch(self.src, self.a, swapped,
                                  list(self.src)), 2)


class GateCheck(unittest.TestCase):
    def test_perturbed_value_is_rejected(self):
        from tools.check_oracle import frame_fingerprint

        cols = ["k", "v"]
        rows = [(1, 0.5), (2, 1.25), (3, 2.0)]
        oracle = frame_fingerprint(cols, list(reversed(rows)))
        self.assertEqual(checks.gate_mismatch(cols, rows, oracle), 0)
        bad = [(1, 0.5), (2, 1.2500001), (3, 2.0)]
        self.assertEqual(checks.gate_mismatch(cols, bad, oracle), 1)


if __name__ == "__main__":
    unittest.main()
