"""The benchmark's own tests: the oracle is right, and a wrong output is
reported as failed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end cases start the harness JVM on small inputs and take about
a minute each.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def run_bench(*args):
    results = os.path.join(HERE, ".work", "selftest.jsonl")
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
                        "--results", results, *args],
                       capture_output=True, text=True, timeout=900)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class OracleTest(unittest.TestCase):
    def test_oracle_matches_brute_force(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            seqs = gen.kmer_corpus(d, seed=5, n_chars=3000, n_files=4)
            for k in (3, 8):
                want = Counter(s.tobytes()[i:i + k] for s in seqs
                               for i in range(len(s) - k + 1))
                got = gen.kmer_oracle(seqs, k)
                code = lambda w: int(w.translate(bytes.maketrans(b"ACGT", b"0123")), 4)
                h = lambda c: ((c % gen.CK_P) * gen.CK_A + gen.CK_B) % gen.CK_P
                self.assertEqual(got["distinct"], len(want))
                self.assertEqual(got["windows"], sum(want.values()))
                self.assertEqual(got["checksum"], sum(n * h(code(w)) for w, n in want.items()))

    def test_generators_are_seeded(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            a = gen.curation_tables(os.path.join(d, "a"), 7, 60, 500, 0.1, 0.1, 50)
            b = gen.curation_tables(os.path.join(d, "b"), 7, 60, 500, 0.1, 0.1, 50)
            self.assertEqual(a, b)
            for t in ("documents", "embeddings"):
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(d, "b", f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())


class CheckTest(unittest.TestCase):
    def test_correct_kmer_run_passes(self):
        rc, res, out = run_bench("--workload", "kmer_large_k", "--seed", "3", "--scale", "0.05")
        self.assertEqual(rc, 0, out)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_wrong_kmer_count_fails(self):
        rc, res, out = run_bench("--workload", "kmer_small_k", "--seed", "3", "--scale", "0.05",
                                 "--fault")
        self.assertEqual(rc, 1, out)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertIn("kmer_counts checksum", out)

    def test_wrong_curation_row_fails(self):
        rc, res, out = run_bench("--workload", "curation_mix", "--seed", "3", "--scale", "0.2",
                                 "--fault")
        self.assertEqual(rc, 1, out)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertIn("oracle FAIL text_token_stats", out)


if __name__ == "__main__":
    unittest.main()
