"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s graftbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import inputs  # noqa: E402
from metrics import self_times, spread, tail, trace_overhead  # noqa: E402


def write_source(path, rows=3000):
    """A small stand-in for the source dataset: every table name, keyed rows."""
    rng = np.random.default_rng(7)
    for name in inputs.TABLES:
        cols = {"id": pa.array(np.arange(rows, dtype=np.int64)),
                "v": pa.array(rng.normal(size=rows))}
        if name == "documents":
            cols["text"] = pa.array([f"doc {i} merge window é" for i in range(rows)])
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.src = os.path.join(cls.tmp.name, "src")
        os.makedirs(cls.src)
        write_source(cls.src)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gen(self, tag, seed):
        out = os.path.join(self.tmp.name, tag)
        return out, inputs.generate(self.src, out, seed)

    @staticmethod
    def files(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_gives_byte_identical_inputs(self):
        a, stats_a = self.gen("a", 11)
        b, stats_b = self.gen("b", 11)
        self.assertEqual(stats_a, stats_b)
        self.assertEqual(self.files(a), self.files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, self.files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_keeps_rows_and_sums_but_not_order(self):
        a, stats_a = self.gen("c", 1)
        b, stats_b = self.gen("d", 2)
        self.assertEqual({k: v["rows"] for k, v in stats_a.items() if k != "text_bytes"},
                         {k: v["rows"] for k, v in stats_b.items() if k != "text_bytes"})
        self.assertEqual(stats_a["text_bytes"], stats_b["text_bytes"])
        con = duckdb.connect()
        for name in inputs.TABLES:
            sums, orders = [], []
            for root in (a, b):
                glob = f"{root}/{name}.parquet/*.parquet"
                sums.append(con.execute(
                    f"SELECT count(*), sum(id), sum(CAST(v AS DECIMAL(38, 12))) "
                    f"FROM read_parquet('{glob}')").fetchone())
                parts = sorted(os.listdir(f"{root}/{name}.parquet"))
                orders.append([i for f in parts for i in pq.read_table(
                    f"{root}/{name}.parquet/{f}").column("id").to_pylist()])
            self.assertEqual(sums[0], sums[1], name)
            self.assertNotEqual(orders[0], orders[1], name)


class MetricsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond_and_reports_n(self):
        self.assertIsNone(tail(list(range(10))))
        value, p, n = tail([float(x) for x in range(1, 101)])
        self.assertEqual((value, p, n), (90.0, 90, 100))
        value, p, n = tail(list(range(1, 31)))
        self.assertEqual((p, n), (66, 30))
        self.assertEqual(sum(1 for x in range(1, 31) if x > value), 10)

    def test_self_time_subtracts_children_and_overhead(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100, "overhead_ns": 6},
            {"id": 1, "parent": 0, "start_ns": 10, "end_ns": 40, "overhead_ns": 0},
            {"id": 2, "parent": 0, "start_ns": 50, "end_ns": 90, "overhead_ns": 2},
            {"id": 3, "parent": 2, "start_ns": 60, "end_ns": 70, "overhead_ns": 0},
        ]
        self.assertEqual(self_times(spans), {0: 24, 1: 30, 2: 28, 3: 10})

    def test_trace_overhead_counts_drains_and_plan_spans(self):
        def span(name, start, end):
            return {"name": name, "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}
        passes = [
            {"traced": False, "wall_s": 9.0, "trace_drain_s": 0.0, "spans": []},
            {"traced": True, "wall_s": 6.0, "trace_drain_s": 0.5,
             "spans": [span("query", 0, 5), span("plan", 1, 1.5), span("exec", 2, 4)]},
            {"traced": True, "wall_s": 4.0, "trace_drain_s": 1.0, "spans": []},
        ]
        self.assertAlmostEqual(trace_overhead(passes), (1.0 / 5.0 + 1.0 / 3.0) / 2)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)


if __name__ == "__main__":
    unittest.main()
