"""Tests for the benchmark's input generators and result checker.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def generate(workload, seed, root):
    data = os.path.join(root, f"{workload}-{seed}")
    run.make_inputs(workload, seed, data)
    return gen.manifest(data)


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        for w in ("llm_dedup", "dml_mix"):
            a = generate(w, 7, os.path.join(self.tmp.name, "a"))
            b = generate(w, 7, os.path.join(self.tmp.name, "b"))
            self.assertEqual(a, b, w)
            self.assertTrue(all(v["rows"] > 0 for v in a.values()), w)

    def test_other_seed_other_corpus_and_oplog(self):
        a = generate("llm_dedup", 7, self.tmp.name)
        b = generate("llm_dedup", 8, self.tmp.name)
        self.assertNotEqual(a["docs/documents.parquet"]["sha256"],
                            b["docs/documents.parquet"]["sha256"])
        self.assertNotEqual(a["batches/batch_000.parquet"]["sha256"],
                            b["batches/batch_000.parquet"]["sha256"])
        a = generate("dml_mix", 7, self.tmp.name)
        b = generate("dml_mix", 8, self.tmp.name)
        self.assertNotEqual(a["dml/oplog.jsonl"]["sha256"], b["dml/oplog.jsonl"]["sha256"])

    def test_dup_pairs_clear_of_the_lsh_gap(self):
        """No document pair, in the corpus or between a batch and the
        corpus, has Jaccard in [FAR_MAX, NEAR_MIN): every pair is either
        at least 0.75 (banded LSH finds it) or below the 0.5 threshold."""
        self.assertGreaterEqual(gen.NEAR_MIN, 0.75)
        self.assertLess(gen.FAR_MAX, 0.5)
        for seed in (1, 2, 3):
            docs, families = gen.corpus(seed, run.CORPUS_DOCS)
            self.assertTrue(families, "the corpus has near-dup families")
            sh = [gen.shingles(d["text"]) for d in docs]
            near = 0
            for i in range(len(sh)):
                for j in range(i + 1, len(sh)):
                    jv = len(sh[i] & sh[j]) / len(sh[i] | sh[j])
                    self.assertFalse(gen.FAR_MAX <= jv < gen.NEAR_MIN, (seed, i, j, jv))
                    near += jv >= gen.NEAR_MIN
            self.assertGreater(near, 0)
            for b in gen.batches(seed, docs, 4, 20):
                for d in b:
                    s = gen.shingles(d["text"])
                    for t in sh:
                        jv = len(s & t) / len(s | t)
                        self.assertFalse(gen.FAR_MAX <= jv < gen.NEAR_MIN, (seed, jv))

    def test_doc_ids_split_corpus_from_batches(self):
        docs, _ = gen.corpus(3, run.CORPUS_DOCS)
        self.assertTrue(all(d["doc_id"] % 5 for d in docs))
        for b in gen.batches(3, docs, 3, 10):
            self.assertTrue(all(d["doc_id"] % 5 == 0 for d in b))


class Checker(unittest.TestCase):
    """A result that differs from the oracle in one cell, or one
    execution whose digest differs from the checked one, is counted as
    wrong, which makes the run's error rate positive."""

    SQL = ("SELECT n_regionkey, count(*) AS n, CAST(sum(n_nationkey) AS DECIMAL(18,2)) AS s "
           "FROM nation GROUP BY n_regionkey")

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        star = os.path.join(self.data, "star")
        os.makedirs(star)
        for name, t in gen.star_tables(1, 0.001).items():
            gen.write_parquet(t, os.path.join(star, f"{name}.parquet"))
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(os.path.join(self.out, "results"))

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, rows):
        with open(os.path.join(self.out, "results", "q.json"), "w") as f:
            json.dump({"columns": ["n_regionkey", "n", "s"],
                       "types": ["int", "bigint", "decimal(18,2)"], "rows": rows}, f)

    def correct_rows(self):
        # Spark dump encoding: decimals tagged, any row order
        return [[k, 5, {"dec": f"{sum(range(k, 25, 5))}.00"}] for k in (4, 3, 2, 1, 0)]

    def wrong(self, digests):
        return check.check_olap(self.data, self.out,
                                {"checks": {"q": {"oracle": self.SQL, "digests": digests}}},
                                lambda m: None)

    def test_correct_result_passes(self):
        self.dump(self.correct_rows())
        self.assertEqual(self.wrong(["d1", "d1"]), 0)

    def test_corrupted_result_counts_as_wrong(self):
        rows = self.correct_rows()
        rows[2][2] = {"dec": "1.01"}
        self.dump(rows)
        wrong = self.wrong(["d1", "d1", "d1"])
        self.assertEqual(wrong, 3)
        rec = {"ops": [{"cls": "query", "s": 1.0, "error": None}] * 3,
               "extra": {}, "setup": {"total": 1.0}, "heap_peak_mb": 1.0, "gc": 1,
               "seconds": 3.0, "units": [{"s": 3.0}]}
        e2e = run.end_to_end("olap", rec, rec)
        named = run.named_metrics("olap", {"windows": [rec], **rec}, e2e, wrong / 3, 3)
        self.assertGreater(named["error_rate"][0], 0)

    def test_diverging_execution_counts_as_wrong(self):
        self.dump(self.correct_rows())
        self.assertEqual(self.wrong(["d1", "d2", "d1"]), 1)

    def test_canonical_cells_match_duckdb_values(self):
        import datetime
        import decimal
        self.assertEqual(check.canon({"dec": "2.50"}), check.canon(decimal.Decimal("2.5")))
        self.assertEqual(check.canon({"ts": "2001-07-27T00:00:00.000000"}),
                         check.canon(datetime.datetime(2001, 7, 27)))
        self.assertEqual(check.canon({"date": "1996-09-13"}),
                         check.canon(datetime.date(1996, 9, 13)))
        self.assertEqual(check.canon(0.1), check.canon(0.1))
        self.assertNotEqual(check.canon(0.1), check.canon(0.1 + 2 ** -56))


if __name__ == "__main__":
    unittest.main()
