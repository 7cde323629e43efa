"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

CHECK_PY = os.path.join(os.path.dirname(HERE), "tools", "check.py")


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(stats.percentile(range(1, 20), 50))
        self.assertEqual(stats.percentile(range(1, 21), 50), 10)
        self.assertEqual(stats.percentile(reversed(range(1, 21)), 50), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class HashTest(unittest.TestCase):
    ROWS = [
        (1, "b", 0.1 + 0.2, None, datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)),
        (-3, "a\x01", 1e-12, [1.5, 2.0], datetime.datetime(1995, 1, 1)),
        (2, "", 123456789.123456789, Decimal("18.20"), None),
    ]
    COLS = ["z", "a", "m", "b", "c"]

    def test_matches_tools_check_py(self):
        if not os.path.exists(CHECK_PY):
            self.skipTest("tools/check.py is not in this tree")
        src = open(CHECK_PY).read()
        ns = {}
        exec(src[:src.rindex("main()")], ns)  # every definition, without running main
        for rows in (self.ROWS, self.ROWS[::-1], []):
            self.assertEqual(stats.table_hash(self.COLS, rows), ns["table_hash"](self.COLS, rows))

    def test_order_of_rows_and_columns_does_not_matter(self):
        h = stats.table_hash(self.COLS, self.ROWS)
        self.assertEqual(h, stats.table_hash(self.COLS, self.ROWS[::-1]))
        perm = [4, 2, 0, 3, 1]
        self.assertEqual(h, stats.table_hash([self.COLS[i] for i in perm],
                                             [tuple(r[i] for i in perm) for r in self.ROWS]))

    def test_floats_are_rounded_to_nine_places(self):
        self.assertEqual(stats.table_hash(["x"], [(0.1 + 0.2,)]), stats.table_hash(["x"], [(0.3,)]))
        self.assertNotEqual(stats.table_hash(["x"], [(0.3,)]), stats.table_hash(["x"], [(0.30001,)]))


class GeneratorTest(unittest.TestCase):
    def gen(self, seed, n=6):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        return d, workloads.gen_stream(seed, n, d)

    def test_same_seed_same_batches(self):
        (d1, t1), (d2, t2) = self.gen(5), self.gen(5)
        self.assertEqual(t1, t2)
        files = sorted(os.listdir(d1))
        self.assertEqual(files, sorted(os.listdir(d2)))
        _, mismatch, errors = filecmp.cmpfiles(d1, d2, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_batches(self):
        (d1, t1), (d2, t2) = self.gen(5), self.gen(6)
        self.assertNotEqual(open(os.path.join(d1, "gw_0.csv")).read(),
                            open(os.path.join(d2, "gw_0.csv")).read())

    def test_shape(self):
        d, t = self.gen(7)
        c = t["correlator"]
        requests = c["matched"][0] + c["timeout"][0]
        self.assertEqual(requests, 6 * workloads.REQUESTS_PER_BATCH)
        self.assertAlmostEqual(c["timeout"][0] / requests, 1 - workloads.ANSWERED_SHARE, delta=0.02)
        self.assertGreater(t["limiter"]["n_denied"], 0)
        self.assertEqual(t["limiter"]["n_events"], 6 * workloads.CALLS_PER_BATCH)
        sns = [ln.split(",")[0] for b in range(6)
               for ln in open(os.path.join(d, f"gw_{b}.csv")) if ",request," in ln]
        self.assertLess(len(set(sns)), len(sns), "some sn is reused")

    def test_no_event_is_later_than_the_watermark_allows(self):
        d, _ = self.gen(8)
        seen = {"gw": -1, "api": -1}
        for b in range(6):
            for kind, ts_col, delay in (("gw", 2, 10_000), ("api", 1, 2_000)):
                ts = [int(ln.split(",")[ts_col]) for ln in open(os.path.join(d, f"{kind}_{b}.csv"))]
                self.assertGreater(min(ts), seen[kind] - delay)
                seen[kind] = max(seen[kind], max(ts))

    def test_schedule_is_seeded_and_holds_whole_rounds(self):
        for w in ("short_queries", "llm_read"):
            warm, ops = workloads.schedule(w, 3)
            self.assertEqual((warm, ops), workloads.schedule(w, 3))
            self.assertNotEqual(ops, workloads.schedule(w, 4)[1])
            mix = sorted(set(warm))
            self.assertEqual(len(ops) % len(mix), 0)
            self.assertGreaterEqual(len(ops), 20)
            for i in range(0, len(ops), len(mix)):
                self.assertEqual(sorted(ops[i:i + len(mix)]), mix)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            ("op", None, "op", 0.0, 100.0),
            ("b", "op", "build", 10.0, 30.0),
            ("j1", "b", "job", 12.0, 20.0),
            ("j2", "b", "job", 15.0, 25.0),
            ("m", "op", "materialize", 20.0, 50.0),  # overlaps "b"
            ("j3", "m", "job", 45.0, 70.0),  # runs past its parent's end
        ]
        t = stats.span_times(spans)
        self.assertEqual(t["op"], (100.0, 60.0))
        self.assertEqual(t["build"], (20.0, 7.0))
        self.assertEqual(t["materialize"], (30.0, 25.0))
        self.assertEqual(t["job"], (43.0, 43.0))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        spec = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, u) for n, u, _ in run.PER_LAYER])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(workloads.PASS))

    def test_expected_hashes_cover_every_query(self):
        expected = json.load(open(os.path.join(HERE, "expected_hashes.json")))
        self.assertEqual(sorted(expected), sorted(workloads.SHORT_QUERIES + workloads.LLM_READ))


if __name__ == "__main__":
    unittest.main()
