"""Unit tests of the seeded inputs.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads  # noqa: E402


class SeededJournal(unittest.TestCase):
    def test_one_file_per_record(self):
        paths = ["file:/s/a.sql", "file:/s/b.scala"]
        with tempfile.TemporaryDirectory() as d:
            gen.seed_journal(d, paths, 7, end_ms=1_000_000, interval_ms=60_000, seed=3)
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            self.assertEqual(len(files), 7)
            self.assertIn("_SUCCESS", os.listdir(d))
            rows = []
            for f in files:
                self.assertRegex(f, r"^part-00000-[0-9a-f-]{36}-c000\.snappy\.parquet$")
                t = pq.read_table(os.path.join(d, f))
                self.assertEqual(t.num_rows, 1)
                self.assertEqual(t.schema.names,
                                 ["path", "startedAt", "finishedAt", "result", "status"])
                rows.append(t.to_pylist()[0])
            self.assertEqual({r["path"] for r in rows}, set(paths))
            for p in paths:
                starts = sorted(r["startedAt"] for r in rows if r["path"] == p)
                self.assertTrue(all(s < 1_000_000 for s in starts))
                self.assertTrue(all(b - a == 60_000 for a, b in zip(starts, starts[1:])))

    def test_same_seed_same_history(self):
        def history(seed):
            with tempfile.TemporaryDirectory() as d:
                gen.seed_journal(d, ["p"], 4, 10**9, 1000, seed)
                return sorted((f, pq.read_table(os.path.join(d, f)).to_pylist()[0]["finishedAt"])
                              for f in os.listdir(d) if f.endswith(".parquet"))
        self.assertEqual(history(5), history(5))
        self.assertNotEqual(history(5), history(6))


class SeedControls(unittest.TestCase):
    def test_entry_order(self):
        names = workloads.WORKLOADS["etl_relational"]["entries"]
        a, b = gen.entry_order(names, 1), gen.entry_order(names, 2)
        self.assertEqual(a, gen.entry_order(names, 1))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(names))

    def test_recompile_schedule(self):
        scripts = ["a.scala", "b.scala"]
        a = gen.recompile_schedule(1, 48, 8, scripts)
        self.assertEqual(a, gen.recompile_schedule(1, 48, 8, scripts))
        self.assertNotEqual(a, gen.recompile_schedule(2, 48, 8, scripts))
        for seed in range(20):
            s = gen.recompile_schedule(seed, 48, 8, scripts)
            # exactly one recompile per block, whatever the seed
            self.assertEqual([t // 8 for t, _ in s], list(range(6)))
            self.assertTrue(all(f in scripts for _, f in s))

    def test_tables_are_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            gen.make_tables(4, 0.0005, f"{d}/a")
            gen.make_tables(4, 0.0005, f"{d}/b")
            gen.make_tables(5, 0.0005, f"{d}/c")
            for t in gen.TABLES:
                a = pq.read_table(f"{d}/a/{t}.parquet")
                self.assertEqual(a, pq.read_table(f"{d}/b/{t}.parquet"))
                self.assertEqual(pq.ParquetFile(f"{d}/a/{t}.parquet").num_row_groups, 1)
            self.assertNotEqual(pq.read_table(f"{d}/a/orders.parquet"),
                                pq.read_table(f"{d}/c/orders.parquet"))


if __name__ == "__main__":
    unittest.main()
