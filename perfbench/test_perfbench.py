"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import tempfile
import unittest

import duckdb

import datagen
import oracle
import run
import stats


class PercentileSupport(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertTrue(stats.supported(100, 0.9))
        self.assertFalse(stats.supported(99, 0.9))

    def test_p75_needs_forty_samples(self):
        self.assertTrue(stats.supported(40, 0.75))
        self.assertFalse(stats.supported(39, 0.75))

    def test_median_needs_twenty_samples(self):
        self.assertTrue(stats.supported(20, 0.5))
        self.assertFalse(stats.supported(19, 0.5))

    def test_interpolated(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 90.1)
        self.assertEqual(stats.percentile([4.0, 1.0], 0.5), 2.5)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class Quartiles(unittest.TestCase):
    def test_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_iqr_share(self):
        xs = [10.0] * 5 + [12.0] * 5
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)
        self.assertEqual(stats.iqr_share([3.0] * 10), 0.0)


class PairRule(unittest.TestCase):
    parent = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 100.0, 101.0]

    def test_clear_gain(self):
        change = [x - 20 for x in self.parent]
        self.assertTrue(stats.pair_gain(self.parent, change))

    def test_eight_wins_of_ten_is_not_a_gain(self):
        change = [x - 20 for x in self.parent[:8]] + [x + 1 for x in self.parent[8:]]
        self.assertFalse(stats.pair_gain(self.parent, change))

    def test_gap_within_parent_spread_is_not_a_gain(self):
        change = [x - 0.5 for x in self.parent]
        self.assertFalse(stats.pair_gain(self.parent, change))

    def test_ties_count_for_neither(self):
        change = [x - 20 for x in self.parent[:9]] + [self.parent[9]]
        self.assertTrue(stats.pair_gain(self.parent, change))
        change = [x - 20 for x in self.parent[:8]] + self.parent[8:]
        self.assertFalse(stats.pair_gain(self.parent, change))

    def test_higher_is_better(self):
        change = [x + 20 for x in self.parent]
        self.assertTrue(stats.pair_gain(self.parent, change, lower_is_better=False))
        self.assertFalse(stats.pair_gain(self.parent, change))

    def test_needs_ten_pairs(self):
        with self.assertRaises(ValueError):
            stats.pair_gain(self.parent[:9], self.parent[:9])


class Throughput(unittest.TestCase):
    @staticmethod
    def op(start_s, ms, ok=True, rows=10):
        return {"start_ns": int(start_s * 1e9), "ms": ms, "ok": ok, "rows_covered": rows}

    def test_median_of_decks(self):
        # decks of two ops lasting 1 s, 4 s and 2 s: rates 2, 0.5 and 1 per s
        ops = [self.op(0, 500), self.op(0.5, 500), self.op(1, 2000), self.op(3, 2000),
               self.op(5, 1000), self.op(6, 1000)]
        ops_s, rows_s = run.throughput(ops, 7.0, 2)
        self.assertAlmostEqual(ops_s, 1.0)
        self.assertAlmostEqual(rows_s, 10.0)

    def test_whole_window(self):
        ops = [self.op(0, 500), self.op(0.5, 500, ok=False)]
        self.assertEqual(run.throughput(ops, 2.0, 0), (0.5, 5.0))


class SeedDeterminism(unittest.TestCase):
    def test_op_sequence(self):
        a = datagen.olap_plan(5, "olap_cached", 200)
        self.assertEqual(a, datagen.olap_plan(5, "olap_cached", 200))
        self.assertNotEqual(a, datagen.olap_plan(6, "olap_cached", 200))
        # every deck holds each shape once, so the mix stays even
        first = [op["shape"] for op in a[:len(datagen.OLAP_SHAPES)]]
        self.assertEqual(sorted(first), sorted(datagen.OLAP_SHAPES))

    def test_scaled_plan_uses_only_replicable_shapes(self):
        ops = datagen.olap_plan(5, "olap_scaled", 100)
        self.assertTrue({op["shape"] for op in ops} <= set(datagen.SCALED_SHAPES))

    def _digest(self, seed, tables):
        saved = dict(datagen.SIZES)
        datagen.SIZES.update({k: 200 for k in datagen.SIZES})
        try:
            with tempfile.TemporaryDirectory() as d:
                con = duckdb.connect()
                datagen.write_tables(con, seed, d)
                out = {}
                for t in tables:
                    out[t] = con.execute(
                        f"SELECT md5(string_agg(CAST(x AS VARCHAR), '|' ORDER BY x)) "
                        f"FROM (SELECT CAST(t AS VARCHAR) AS x FROM '{d}/{t}.parquet' t)").fetchone()[0]
                return out
        finally:
            datagen.SIZES.clear()
            datagen.SIZES.update(saved)

    def test_tables(self):
        tables = ["lineitem", "events", "documents", "embeddings"]
        a = self._digest(3, tables)
        self.assertEqual(a, self._digest(3, tables))
        b = self._digest(4, tables)
        self.assertTrue(all(a[t] != b[t] for t in tables))

    def test_landing_plan(self):
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            def plan():
                return datagen.read_landing(con, d).project(
                    "id, batch, kind, src, text").order("id").fetchall()
            datagen.write_landing(con, 9, d)
            rows = plan()
            datagen.write_landing(con, 9, d)
            self.assertEqual(rows, plan())
            by_id = {r[0]: r for r in rows}
            for i, b, kind, src, text in rows:
                if kind == "recrawl":
                    self.assertEqual(text, by_id[src][4])
                if kind != "new":
                    sb = by_id[src][1]
                    self.assertEqual(by_id[src][2], "new")
                    self.assertTrue(b - datagen.LAND_RETAIN_BATCHES <= sb < b)
            datagen.write_landing(con, 10, d)
            self.assertNotEqual(rows, plan())


class LandingChecks(unittest.TestCase):
    B = datagen.LAND_BATCH

    def plan(self, batches):
        return {b * self.B + s: (b, "new" if b == 0 else datagen.landing_kind(s))
                for b in range(batches) for s in range(self.B)}

    def new_ids(self, plan, b):
        return [i for i, (bb, k) in plan.items() if bb == b and k == "new"]

    def test_reader_sees_committed_batches(self):
        plan = self.plan(6)
        ids = sum((self.new_ids(plan, b) for b in range(1, 5)), [])
        self.assertIsNone(oracle.check_reader(plan, {"id": 1, "committed": 4, "window": 4, "ids": ids}))

    def test_reader_flags_half_visible_batch(self):
        plan = self.plan(6)
        ids = sum((self.new_ids(plan, b) for b in range(1, 5)), []) + self.new_ids(plan, 5)[:3]
        self.assertIn("half visible", oracle.check_reader(
            plan, {"id": 1, "committed": 4, "window": 4, "ids": ids}))

    def test_reader_flags_duplicates_and_recrawls(self):
        plan = self.plan(6)
        ids = sum((self.new_ids(plan, b) for b in range(1, 5)), [])
        self.assertIn("duplicate", oracle.check_reader(
            plan, {"id": 1, "committed": 4, "window": 4, "ids": ids + ids[:1]}))
        recrawl = next(i for i, (b, k) in plan.items() if b == 3 and k == "recrawl")
        self.assertIn("re-crawl", oracle.check_reader(
            plan, {"id": 1, "committed": 4, "window": 4, "ids": ids + [recrawl]}))

    def test_final_table(self):
        # the beat at batch 4 keeps the newest LAND_RETAIN_BATCHES batches
        plan = self.plan(6)
        ids = sum((self.new_ids(plan, b) for b in range(3, 6)), [])
        bad, kept, recall, drop = oracle.check_landing(plan, ids, 2, 5)
        self.assertEqual((bad, kept, recall), ([], (3, 5), 1.0))
        bad, *_ = oracle.check_landing(plan, ids[1:], 2, 5)
        self.assertTrue(bad)
        bad, *_ = oracle.check_landing(plan, ids + self.new_ids(plan, 2), 2, 5)
        self.assertTrue(bad)


class Compare(unittest.TestCase):
    def test_canonical_order_and_float_tolerance(self):
        self.assertIsNone(oracle.compare(["b", "a"], [[1.0000001, 2], [3.0, 1]],
                                         ["a", "b"], [[1, 3.0], [2, 1.0]]))
        self.assertIsNotNone(oracle.compare(["a"], [[1]], ["a"], [[2]]))
        self.assertIsNotNone(oracle.compare(["a"], [[1]], ["a"], [[1], [1]]))


if __name__ == "__main__":
    unittest.main()
