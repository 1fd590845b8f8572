#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic (percentiles with their
sample count, geometric mean, span self time, error accounting,
fingerprint comparison) and, with PERFBENCH_SMOKE=1, a tiny-scale smoke
run of every workload through the real harness.

Run from the repository root:
  python3 -m unittest perfbench/test_perfbench.py
  PERFBENCH_SMOKE=1 python3 -m unittest perfbench/test_perfbench.py
"""
import datetime
import decimal
import io
import json
import math
import os
import sys
import unittest
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fingerprint  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), (2.5, 4))
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 0.9), (4.6, 5))
        self.assertEqual(stats.percentile([7], 0.9), (7, 1))

    def test_empty(self):
        self.assertEqual(stats.percentile([], 0.5), (None, 0))

    def test_extremes(self):
        self.assertEqual(stats.percentile([3, 1, 2], 0.0), (1, 3))
        self.assertEqual(stats.percentile([3, 1, 2], 1.0), (3, 3))


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)

    def test_undefined(self):
        self.assertIsNone(stats.geomean([]))
        self.assertIsNone(stats.geomean([1.0, 0.0]))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_children_subtracted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 20, 50), self.span(3, 1, 12, 14)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 60)   # children cover [10, 50]
        self.assertEqual(st[1], 18)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 2)

    def test_child_clipped_to_parent(self):
        st = stats.self_times([self.span(0, -1, 0, 10), self.span(1, 0, 5, 15)])
        self.assertEqual(st[0], 5)

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.covered([(0, 5), (3, 8)], lo=4, hi=6), 2)
        self.assertEqual(stats.covered([]), 0)


def op(i, name, latency, ok=True, kind="read", start=0, **extra):
    return {"id": i, "name": name, "kind": kind, "module": "m", "ok": ok,
            "latency_s": latency, "start_ms": start, "extra": extra,
            "gc_s": 0.0, "heap_peak_mb": 1.0}


class AccountingTest(unittest.TestCase):
    def test_failures_count_never_latency(self):
        ops = [op(0, "a", 1.0), op(1, "a", 100.0, ok=False), op(2, "b", 3.0)]
        self.assertEqual(stats.account(ops), (3, 1, 1 / 3))
        raw = {"setup_s": 2.0, "warmup": [], "ops": ops, "end_metrics": {}}
        m = stats.end_to_end(raw, ops)
        self.assertEqual(m["op_p90_s"][2], 2)         # only the two good ops
        self.assertLess(m["op_p90_s"][0], 3.0 + 1e-9)
        self.assertEqual(m["setup_s"][:2], (2.0, "s"))
        self.assertAlmostEqual(m["query_geomean_s"][0], math.sqrt(3.0))

    def test_rate_uses_wall_time(self):
        ops = [op(0, "a", 1.0, start=0), op(1, "a", 1.0, start=1000),
               op(2, "a", 1.0, ok=False, start=2000)]
        self.assertAlmostEqual(stats.rate(ops), 2 / 3.0)

    def test_empty_run(self):
        self.assertEqual(stats.account([]), (0, 0, 0.0))


class FingerprintTest(unittest.TestCase):
    COLS = ["k", "v", "d"]
    ROWS = [(1, 0.5, "x"), (2, 1.25, None), (3, None, "z")]

    def test_order_insensitive(self):
        a = fingerprint.of(self.COLS, self.ROWS)
        b = fingerprint.of(["d", "k", "v"], [(r[2], r[0], r[1]) for r in reversed(self.ROWS)])
        self.assertTrue(stats.fingerprints_match(a, b))

    def test_detects_changed_text_and_count(self):
        a = fingerprint.of(self.COLS, self.ROWS)
        b = fingerprint.of(self.COLS, [(1, 0.5, "x"), (2, 1.25, "y"), (3, None, "z")])
        c = fingerprint.of(self.COLS, self.ROWS[:2])
        self.assertFalse(stats.fingerprints_match(a, b))
        self.assertFalse(stats.fingerprints_match(a, c))

    def test_float_tolerance(self):
        a = fingerprint.of(["v"], [(0.1,), (0.2,)])
        self.assertTrue(stats.fingerprints_match(a, fingerprint.of(["v"], [(0.30000000000000004,), (0.0,)])))
        self.assertFalse(stats.fingerprints_match(a, fingerprint.of(["v"], [(0.31,), (0.0,)])))
        self.assertTrue(stats.fingerprints_match(
            fingerprint.of(["v"], [(decimal.Decimal("1.50"),)]), fingerprint.of(["v"], [(1.5,)])))

    def test_float_tied_to_its_row(self):
        # Same keys, same float values and sums, but two rows' values
        # swapped: only the row-weighted sum tells them apart.
        rows = [("a", 1.0), ("b", 2.0), ("c", 3.0)]
        swapped = [("a", 2.0), ("b", 1.0), ("c", 3.0)]
        a = fingerprint.of(["k", "v"], rows)
        b = fingerprint.of(["k", "v"], swapped)
        self.assertEqual(a["hash"], b["hash"])
        self.assertEqual(a["floats"]["v"][:3], b["floats"]["v"][:3])
        self.assertFalse(stats.fingerprints_match(a, b))
        self.assertTrue(stats.fingerprints_match(a, fingerprint.of(["v", "k"], [(x, k) for k, x in reversed(rows)])))

    def test_row_weight_in_unit_interval(self):
        self.assertEqual(fingerprint.row_weight(0), 0.0)
        self.assertLess(fingerprint.row_weight((1 << 64) - 1), 1.0)
        self.assertEqual(fingerprint.row_weight(1 << 63), 0.5)

    def test_missing_side_never_matches(self):
        self.assertFalse(stats.fingerprints_match(None, fingerprint.of(["v"], [])))

    def test_canonical_values(self):
        self.assertEqual(fingerprint.canon(None), "\\N")
        self.assertEqual(fingerprint.canon(True), "true")
        self.assertEqual(fingerprint.canon(datetime.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(fingerprint.canon(datetime.datetime(1970, 1, 1, 0, 0, 1)), "1000000")
        self.assertEqual(fingerprint.canon([1, "a", None]), "[1,a,\\N]")

    def test_known_hash(self):
        # The empty row text hashes to the first 8 bytes of MD5("").
        self.assertEqual(fingerprint.of(["v"], [(1.0,)])["hash"], "d41d8cd98f00b204")


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    """A few ops of each workload at tiny scale, through the real harness."""

    def run_bench(self, workload, trace):
        import run
        buf = io.StringIO()
        with redirect_stdout(buf):
            run.main(["--workload", workload, "--seed", "7", "--seconds", "2",
                      "--trace", str(trace), "--smoke"])
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def check(self, workload):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = self.run_bench(workload, trace)
            self.assertTrue(res["correct"], res)
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(got, want)

    def test_analytics(self):
        self.check("analytics")

    def test_kv_churn(self):
        self.check("kv_churn")

    def test_stream_cdc(self):
        self.check("stream_cdc")


if __name__ == "__main__":
    unittest.main()
