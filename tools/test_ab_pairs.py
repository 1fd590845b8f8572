#!/usr/bin/env python3
"""Unit tests of tools/ab_pairs.py's arithmetic (no runs):
  python3 tools/test_ab_pairs.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab_pairs  # noqa: E402


class ArithmeticTest(unittest.TestCase):
    def test_quartiles_interpolate(self):
        self.assertEqual(ab_pairs.quartiles([4, 1, 3, 2, 5]), (2, 3, 4))
        self.assertEqual(ab_pairs.quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))
        self.assertEqual(ab_pairs.quartiles([7]), (7, 7, 7))

    def test_seeds_and_order(self):
        self.assertEqual(ab_pairs.parse_seeds("101-103,7,102"), [7, 101, 102, 103])
        self.assertEqual(ab_pairs.order(0), ("parent", "change"))
        self.assertEqual(ab_pairs.order(1), ("change", "parent"))

    def test_first_side_alternates_by_pair_not_by_seed_parity(self):
        # odd seeds only: the side that runs first still alternates
        self.assertEqual(ab_pairs.schedule([1, 3, 5, 7]), [
            (1, "parent"), (1, "change"), (3, "change"), (3, "parent"),
            (5, "parent"), (5, "change"), (7, "change"), (7, "parent")])

    def test_wins_count_ties_for_neither(self):
        pairs = [(3.0, 2.0), (3.0, 3.0), (2.0, 3.0)]
        self.assertEqual(ab_pairs.wins(pairs, "lower"), 1)
        self.assertEqual(ab_pairs.wins(pairs, "higher"), 1)

    def test_claim_needs_nine_tenths_and_median_beyond_parent_iqr(self):
        parent = [3.0, 3.1, 3.2, 3.3, 3.4, 3.5, 3.6, 3.7, 3.8, 3.9]
        faster = [p - 0.6 for p in parent]
        v = ab_pairs.verdict(parent, faster, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertAlmostEqual(v["gain"], 0.6)
        self.assertAlmostEqual(v["parent_iqr"], 0.45)
        self.assertTrue(v["claim"])
        self.assertEqual(v["bound"], "ok")
        # the same runs with more failed operations on the change side
        v = ab_pairs.verdict(parent, faster, "lower", 0.25, more_failed=True)
        self.assertFalse(v["claim"])
        # every pair won, but by less than the parent's own spread
        v = ab_pairs.verdict(parent, [p - 0.3 for p in parent], "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["claim"])
        # a large median gain from 8 of 10 pairs is no claim
        mixed = [p - 1.0 for p in parent[:8]] + parent[8:]
        v = ab_pairs.verdict(parent, mixed, "lower", 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["claim"])

    def test_higher_is_better_direction(self):
        parent = [1.0] * 10
        v = ab_pairs.verdict(parent, [1.5] * 10, "higher", 0.25)
        self.assertAlmostEqual(v["gain"], 0.5)
        self.assertTrue(v["claim"])
        v = ab_pairs.verdict(parent, [0.7] * 10, "higher", 0.25)
        self.assertAlmostEqual(v["worse_share"], 0.3)
        self.assertEqual(v["bound"], "FAIL")

    def test_bound_counts_worsening_and_spread(self):
        parent = [2.0] * 10
        v = ab_pairs.verdict(parent, [2.4] * 10, "lower", 0.25)
        self.assertAlmostEqual(v["worse_share"], 0.2)
        self.assertEqual(v["bound"], "ok")
        v = ab_pairs.verdict(parent, [2.6] * 10, "lower", 0.25)
        self.assertEqual(v["bound"], "FAIL")

    def test_a_spread_wider_than_the_bound_is_unresolved_not_a_fail(self):
        parent = [2.0] * 10
        # a side whose quartiles spread wider than the bound cannot tell,
        # whichever way its median moved
        wide = [1.0, 1.0, 1.0, 1.5, 2.0, 2.0, 2.5, 3.0, 3.0, 3.0]
        v = ab_pairs.verdict(parent, wide, "lower", 0.25)
        self.assertGreater(v["spread"], 0.25)
        self.assertEqual(v["bound"], "unresolved")
        v = ab_pairs.verdict(parent, [x + 1.0 for x in wide], "lower", 0.25)
        self.assertEqual(v["bound"], "unresolved")
        # ... unless every change run beats every parent run
        wide_parent = [3.5, 3.5, 3.5, 4.0, 5.0, 5.0, 6.0, 7.0, 7.0, 7.0]
        v = ab_pairs.verdict(wide_parent, wide, "lower", 0.25)
        self.assertGreater(v["spread"], 0.25)
        self.assertEqual(v["bound"], "ok")
        v = ab_pairs.verdict([1.0] * 10, [1.2, 1.2, 1.2, 2.0, 2.0, 2.0, 2.0, 3.0, 3.0, 3.0],
                             "higher", 0.25)
        self.assertEqual(v["bound"], "ok")

    def test_failed_share_sums_over_runs(self):
        runs = [{"attempted": 10, "failed": 1}, {"attempted": 30, "failed": 0}]
        self.assertAlmostEqual(ab_pairs.failed_share(runs), 0.025)
        self.assertEqual(ab_pairs.failed_share([{"attempted": 0, "failed": 0}]), 0.0)

    def test_summarize_pairs_by_seed_and_reads_the_bounds(self):
        metrics = ab_pairs.load_metrics()
        self.assertIn(("op_p50_s", "s", "lower", 0.25), metrics)
        names = [m[0] for m in metrics]

        def result(value):
            return {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {n: {"value": value, "unit": "s"} for n in names}}
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
            for seed in (1, 2):
                for side, value in (("parent", 2.0), ("change", 1.0)):
                    fh.write(json.dumps({"workload": "stream_cdc", "seed": seed,
                                         "side": side, "result": result(value)}) + "\n")
            # a seed with one side only is not a pair
            fh.write(json.dumps({"workload": "stream_cdc", "seed": 3, "side": "parent",
                                 "result": result(2.0)}) + "\n")
        try:
            text = ab_pairs.summarize(fh.name, metrics)
        finally:
            os.unlink(fh.name)
        self.assertIn("stream_cdc: 2 pairs (seeds 1, 2)", text)
        row = next(line for line in text.splitlines() if line.strip().startswith("op_p50_s"))
        self.assertIn(" 2/2 ", row)
        self.assertIn("yes", row)
        self.assertIn("failed ops: parent 0.0%, change 0.0%  ok", text)

    def test_summarize_denies_the_claim_when_the_change_fails_more_ops(self):
        metrics = ab_pairs.load_metrics()
        names = [m[0] for m in metrics]

        def result(value, failed):
            return {"correct": True, "attempted": 4, "failed": failed,
                    "metrics": {n: {"value": value, "unit": "s"} for n in names}}
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
            for seed in range(1, 11):
                for side, value, failed in (("parent", 2.0, 0), ("change", 1.0, 1)):
                    fh.write(json.dumps({"workload": "stream_cdc", "seed": seed,
                                         "side": side, "result": result(value, failed)}) + "\n")
        try:
            text = ab_pairs.summarize(fh.name, metrics)
        finally:
            os.unlink(fh.name)
        self.assertIn("failed ops: parent 0.0%, change 25.0%  FAIL", text)
        row = next(line for line in text.splitlines() if line.strip().startswith("op_p50_s"))
        self.assertIn("10/10", row)
        self.assertNotIn("yes", row)

    def test_op_medians_read_the_runs_full_record(self):
        ops = [{"name": "q1", "phase": "warmup", "latency_s": 9.0, "ok": True},
               {"name": "q1", "phase": "untraced", "latency_s": 1.0, "ok": True},
               {"name": "q1", "phase": "untraced", "latency_s": 3.0, "ok": True},
               {"name": "q1", "phase": "untraced", "latency_s": 2.0, "ok": True},
               {"name": "q2", "phase": "untraced", "latency_s": 0.5, "ok": True},
               {"name": "q2", "phase": "untraced", "latency_s": 7.0, "ok": False}]
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "perfbench", "results"))
            with open(os.path.join(d, "perfbench", "results",
                                   "analytics-seed5-trace0.json"), "w") as fh:
                json.dump({"ops": ops}, fh)
            self.assertEqual(ab_pairs.op_medians(d, "analytics", 5), {"q1": 2.0, "q2": 0.5})
            self.assertEqual(ab_pairs.op_medians(d, "analytics", 6), {})

    def test_summarize_prints_a_per_op_table(self):
        metrics = ab_pairs.load_metrics()
        names = [m[0] for m in metrics]
        result = {"correct": True, "attempted": 3, "failed": 0,
                  "metrics": {n: {"value": 1.0, "unit": "s"} for n in names}}
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
            for seed, (pg16, cg16) in zip((1, 2, 3), ((0.8, 0.7), (0.9, 0.6), (0.7, 0.75))):
                for side, g16 in (("parent", pg16), ("change", cg16)):
                    fh.write(json.dumps({"workload": "analytics", "seed": seed, "side": side,
                                         "result": result,
                                         "op_medians": {"g16": g16, "q6": 0.04}}) + "\n")
            # a record from before op medians were kept joins no per-op pair
            fh.write(json.dumps({"workload": "analytics", "seed": 4, "side": "parent",
                                 "result": result}) + "\n")
            fh.write(json.dumps({"workload": "analytics", "seed": 4, "side": "change",
                                 "result": result}) + "\n")
        try:
            text = ab_pairs.summarize(fh.name, metrics)
        finally:
            os.unlink(fh.name)
        self.assertIn("per-op median latency (s), median over 3 pairs", text)
        g16 = next(line for line in text.splitlines() if line.strip().startswith("g16"))
        self.assertEqual(g16.split(), ["g16", "0.800", "0.700", "-12.5%", "2/3"])
        q6 = next(line for line in text.splitlines() if line.strip().startswith("q6"))
        self.assertEqual(q6.split(), ["q6", "0.040", "0.040", "+0.0%", "0/3"])


if __name__ == "__main__":
    unittest.main()
