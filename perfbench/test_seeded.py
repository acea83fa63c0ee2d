"""Tests of the benchmark's seeded inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import seeded  # noqa: E402


def generate(root, seed):
    m = seeded.otel_stream(root, seed, backfill_batches=1, backfill_span=10, windows=3)
    seeded.serve_inputs(root, seed, clusters=1000, selective_word=m["selective_word"])


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputsTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(a, 7)
            generate(b, 7)
            self.assertEqual(files(a), files(b))
            for f in files(a):
                if f == "manifest.json":  # holds the absolute file paths
                    continue
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)
        self.assertEqual(seeded.gate_order(7), seeded.gate_order(7))

    def test_other_seed_changes_order_and_log_content(self):
        self.assertNotEqual(seeded.gate_order(1), seeded.gate_order(2))
        self.assertEqual(sorted(seeded.gate_order(1)), sorted(seeded.gate_order(2)))
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(a, 1)
            generate(b, 2)
            for f in ("warm.jsonl", "live/w000.jsonl", "tier2_points.jsonl"):
                self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                             shallow=False), f)

    def test_live_windows_inject_the_reference_mix(self):
        with tempfile.TemporaryDirectory() as root:
            m = seeded.otel_stream(root, 3, backfill_batches=1, backfill_span=10, windows=3)
        kinds = [[i["kind"] for i in w["injected"]] for w in m["windows"]]
        self.assertEqual(kinds, [["novel"] * 3 + ["spike", "stack"]] * 3)
        # each window spikes another template
        spikes = {i["prefix"] for w in m["windows"] for i in w["injected"]
                  if i["kind"] == "spike"}
        self.assertEqual(len(spikes), 3)
        # the windows start before a UTC midnight and cross it
        self.assertLess(m["live_start"], seeded.MIDNIGHT)
        self.assertGreater(m["windows"][-1]["now"], seeded.MIDNIGHT)


if __name__ == "__main__":
    unittest.main()
