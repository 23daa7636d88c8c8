"""Tests of the benchmark's own checks and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
import run


class CatalogCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.fixture = os.path.join(d, "fixture")
        self.results = os.path.join(d, "results")
        os.makedirs(self.fixture)
        rows = {"k": [1, 2, 3, 4], "v": [10.5, 20.25, None, 40.0], "s": ["a", "b", "c", "d"]}
        pq.write_table(pa.table(rows), os.path.join(self.fixture, "t.parquet"))
        self.sql = {"q": "SELECT k, v, s FROM t ORDER BY k"}
        self.rows = rows

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, rows):
        os.makedirs(os.path.join(self.results, "q"), exist_ok=True)
        pq.write_table(pa.table(rows), os.path.join(self.results, "q", "part-0.parquet"))

    def test_matching_result_passes(self):
        self.write_result(self.rows)
        self.assertEqual(oracle.check_catalog(self.fixture, self.results, self.sql), {"q": None})

    def test_one_mutated_row_is_caught(self):
        for col, i, value in [("v", 1, 20.26), ("s", 3, "x"), ("k", 0, 9), ("v", 2, 0.0)]:
            rows = {c: list(v) for c, v in self.rows.items()}
            rows[col][i] = value
            self.write_result(rows)
            verdict = oracle.check_catalog(self.fixture, self.results, self.sql)["q"]
            self.assertIsNotNone(verdict, f"mutating {col}[{i}] went unnoticed")
            self.assertIn(f"row {i}", verdict)

    def test_missing_row_and_missing_result_are_caught(self):
        self.write_result({c: v[:3] for c, v in self.rows.items()})
        self.assertIn("row count", oracle.check_catalog(self.fixture, self.results, self.sql)["q"])
        self.assertIn("no result", oracle.check_catalog(self.fixture, self.tmp.name + "/none", self.sql)["q"])


class HistogramCheckTest(unittest.TestCase):
    def test_one_mutated_count_is_caught(self):
        hist = {"w1": 3, "w2": 5, "w10": 1}
        mutated = dict(hist, w2=6)
        self.assertNotEqual(oracle.histogram_digest(hist), oracle.histogram_digest(mutated))
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", delete=False) as fh:
            fh.write("".join(f"{w}\t{c}\n" for w, c in sorted(mutated.items())))
        try:
            self.assertIn("'w2'", oracle.compare_histogram(fh.name, hist))
            self.assertIsNone(oracle.compare_histogram(fh.name, mutated))
        finally:
            os.unlink(fh.name)

    def test_text_dir_histogram_matches_files(self):
        with tempfile.TemporaryDirectory() as d:
            hist, shape, pairs = gen.text_dir(d, 3, files=3, words_per_file=500, vocab=50, zipf_s=1.1)
            counted, distinct = {}, 0
            for f in sorted(os.listdir(d)):
                words = open(os.path.join(d, f)).read().split(" ")
                distinct += len(set(words))
                for w in words:
                    counted[w] = counted.get(w, 0) + 1
            self.assertEqual(counted, hist)
            self.assertEqual(distinct, pairs)
            self.assertEqual(shape["words"], 1500)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            def snapshot(seed, sub):
                gen.tables(os.path.join(d, sub), seed, 0.001)
                return {f: open(os.path.join(d, sub, f), "rb").read()
                        for f in sorted(os.listdir(os.path.join(d, sub)))}
            a, b, c = snapshot(1, "a"), snapshot(1, "b"), snapshot(2, "c")
            self.assertEqual(a, b)
            self.assertEqual(len(a), 10)
            self.assertNotEqual(a["lineitem.parquet"], c["lineitem.parquet"])


class MetricsTest(unittest.TestCase):
    def test_quantile_interpolates(self):
        self.assertEqual(run.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertAlmostEqual(run.quantile(list(range(11)), 0.9), 9.0)

    def test_percentiles_pool_the_untraced_steady_passes(self):
        passes = [{"pass": 0, "traced": False, "wall_s": 9.0},
                  {"pass": 1, "traced": False, "wall_s": 3.0},
                  {"pass": 2, "traced": True, "wall_s": 8.0},
                  {"pass": 3, "traced": False, "wall_s": 4.0}]
        walls = {0: [5, 5, 5], 1: [1, 2, 3], 2: [7, 7, 7], 3: [1, 2, 3]}
        ops = [{"pass": p, "wall_s": w} for p, ws in walls.items() for w in ws]
        e2e, samples = run.end_to_end({"passes": passes, "ops": ops, "setup_s": 9.0,
                                       "rss_peak_mb": 1.0}, 7.0)
        self.assertEqual(samples, 6)
        self.assertEqual(e2e["pass_s"], 3.5)
        self.assertEqual(e2e["query_p50_s"], 2.0)
        self.assertAlmostEqual(e2e["query_p80_s"], 3.0)
        self.assertEqual(e2e["mb_per_s"], 2.0)

    def test_per_layer_names_are_unique(self):
        names = run.per_layer_names()
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
