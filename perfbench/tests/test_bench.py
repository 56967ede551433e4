"""Tests of the benchmark's Python side. Run from the repository root:
  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402
from stats import median, tail  # noqa: E402


def written(write, *args):
    """{file name: bytes} of what write(dir, *args) writes."""
    with tempfile.TemporaryDirectory() as d:
        write(d, *args)
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = fh.read()
        return out


def corpus_bytes(kind, seed, mb=0.2):
    return written(gen.write_wc, kind, seed, mb)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for kind in ("zipf", "distinct"):
            self.assertEqual(corpus_bytes(kind, 7), corpus_bytes(kind, 7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(corpus_bytes("zipf", 7), corpus_bytes("zipf", 8))

    def test_lines_and_reference(self):
        files = corpus_bytes("zipf", 3)
        text = b"".join(v for k, v in files.items() if k.endswith(".txt"))
        lines = text.split(b"\r\n")
        self.assertEqual(lines[-1], b"")
        words = [w for line in lines[:-1] for w in line.split(b" ")]
        self.assertTrue(all(len(w) == gen.WORD_LEN for w in words))
        expect = json.loads(files["expect.json"])
        self.assertEqual(expect["total"], len(words))
        self.assertEqual(expect["keys"], len(set(words)))

    def test_fingerprint_matches_the_scala_checker(self):
        # WcCheckSpec pins the same value for the same (id, count) pairs
        ids = np.array([0, 1, 308915775], dtype=np.uint64)
        self.assertEqual(gen.fingerprint(ids, np.array([3, 1, 2])), 2188231046831682498)
        self.assertEqual(bytes(gen.encode(np.array([0, 27], dtype=np.uint64)).reshape(-1)),
                         b"aaaaaaaaaabb")


    def test_catalog_and_stream_are_seeded(self):
        self.assertEqual(written(gen.write_catalog, 5, 60, 300), written(gen.write_catalog, 5, 60, 300))
        self.assertNotEqual(written(gen.write_catalog, 5, 60, 300), written(gen.write_catalog, 6, 60, 300))
        self.assertEqual(written(gen.write_stream, 5, 2, 16), written(gen.write_stream, 5, 2, 16))
        self.assertNotEqual(written(gen.write_stream, 5, 2, 16), written(gen.write_stream, 6, 2, 16))

    def test_stream_batches_split_the_corpus_with_planted_pairs(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_stream(d, 9, 3, 16)
            corpus = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
            parts = [pq.read_table(os.path.join(d, f"batch-{b:04d}.parquet")).to_pandas()
                     for b in range(3)]
        ids = sorted(i for p in parts for i in p.vec_id)
        self.assertEqual(ids, list(range(48)))
        self.assertEqual(list(corpus.vec_id), ids)
        v = np.stack(corpus.embedding.to_numpy())
        close = [i for i in range(0, 48, 2) if np.linalg.norm(v[i] - v[i + 1]) < 0.5]
        self.assertEqual(len(close), 48 // 8)


class OracleTest(unittest.TestCase):
    exp = pd.DataFrame({"doc_id": [1, 2, 3], "fp": ["a", "b", "c"], "score": [0.5, 0.25, 1.0]})

    def test_an_equal_result_passes_whatever_its_column_order(self):
        self.assertIsNone(oracle.problem(self.exp[["score", "fp", "doc_id"]], self.exp))

    def test_the_checker_flags_a_corrupted_result(self):
        wrong_value = self.exp.assign(score=[0.5, 0.25, 1.0000001])
        missing_row = self.exp.iloc[:2]
        extra_column = self.exp.assign(extra=1)
        reordered = self.exp.iloc[[1, 0, 2]]
        for bad in (wrong_value, missing_row, extra_column, reordered):
            self.assertIsNotNone(oracle.problem(bad, self.exp), bad)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(tail(xs), (90, 90.0))
        value, pct = tail(list(range(30)))
        self.assertEqual(value, 19)
        self.assertAlmostEqual(pct, 66.67, places=2)

    def test_too_few_samples_give_the_median(self):
        for n in (1, 10, 11, 20):
            self.assertEqual(tail(list(range(n))), (median(list(range(n))), 50.0))
        self.assertGreater(tail(list(range(23)))[1], 50.0)


if __name__ == "__main__":
    unittest.main()
