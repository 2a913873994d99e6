"""Tests of the seeded World Cup CSV generator (perfbench/gen_worldcup.py).

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The last test builds the program like run.py does (once per checkout),
dumps the World Cup catalog entries e1-e27 over the CSVs of two seeds
with graft.Verify, and checks both dumps against the DuckDB oracles with
tools/check_oracle.py.
"""
import csv
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import gen_worldcup  # noqa: E402
import run  # noqa: E402

FIXTURES = os.path.join(ROOT, "src", "test", "resources", "worldcup")
COPIES = 3


def rows(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]


class GenWorldCupTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        work = os.path.join(ROOT, ".bench_build")
        os.makedirs(work, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="test-gen-", dir=work)
        cls.dirs = {}
        for key, seed in (("a", 7), ("a_again", 7), ("b", 8)):
            d = os.path.join(cls.tmp, key, "csv")
            gen_worldcup.generate(FIXTURES, d, seed, COPIES)
            cls.dirs[key] = d
        cls.names = sorted(os.listdir(cls.dirs["a"]))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_covers_every_fixture(self):
        self.assertEqual(self.names, sorted(
            f for f in os.listdir(FIXTURES) if f.endswith(".csv")))

    def test_same_seed_is_byte_identical(self):
        _, mismatch, errors = filecmp.cmpfiles(
            self.dirs["a"], self.dirs["a_again"], self.names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_has_the_same_rows_in_another_order(self):
        reordered = 0
        for n in self.names:
            a = rows(os.path.join(self.dirs["a"], n))
            b = rows(os.path.join(self.dirs["b"], n))
            fixture = rows(os.path.join(FIXTURES, n))
            self.assertEqual(len(a), COPIES * len(fixture), n)
            self.assertEqual(sorted(a), sorted(b), n)
            reordered += a != b
        self.assertEqual(reordered, len(self.names))

    def test_copies_are_disjoint(self):
        for n, key in (("matches.csv", 0), ("players.csv", 0),
                       ("teams.csv", 2), ("stadiums.csv", 1)):
            col = [r[key] for r in rows(os.path.join(self.dirs["a"], n))]
            self.assertEqual(len(col), len(set(col)), n)

    def test_oracle_verified_results_agree_across_seeds(self):
        classpath = run.build(ROOT, os.path.join(ROOT, ".bench_build"))
        dumps = {}
        for key in ("a", "b"):
            run_dir = os.path.dirname(self.dirs[key])
            os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
            out = os.path.join(run_dir, "verify")
            # the third argument keeps only entries whose name starts
            # with "e": the World Cup entries e1-e27
            cmd = run.java_cmd(classpath, run_dir, self.dirs[key],
                               "graft.Verify", [run.DATA, out, "e"])
            r = subprocess.run(cmd, cwd=run_dir, capture_output=True,
                               text=True, timeout=600)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            c = subprocess.run(
                [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                 run.DATA, out], capture_output=True, text=True, timeout=300)
            self.assertIn("27 pass / 0 fail", c.stdout, c.stdout[-2000:])
            dumps[key] = out
        import duckdb
        con = duckdb.connect()
        entries = sorted(e for e in os.listdir(dumps["a"])
                         if os.path.isdir(os.path.join(dumps["a"], e)))
        self.assertEqual(len(entries), 27)
        for e in entries:
            a, b = (con.sql(f"SELECT * FROM '{dumps[k]}/{e}/*.parquet'").fetchall()
                    for k in ("a", "b"))
            self.assertEqual(a, b, e)


if __name__ == "__main__":
    unittest.main()
