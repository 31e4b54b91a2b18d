"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import re
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

GRAMMAR = re.compile(r"^[A-Za-z0-9_.-]+$")
# metric names also start with a letter or digit and have at most 64 characters
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(39), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(99), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(104), 90)
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)
        self.assertEqual(run.tail_percentile(10000), 99.9)

    def test_percentile_interpolates_like_numpy(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(run.percentile(xs, 50), 3.0)
        self.assertEqual(run.percentile(xs, 90), 4.6)
        self.assertEqual(run.percentile([7.0], 90), 7.0)
        self.assertTrue(math.isnan(run.percentile([], 50)))


class MetricNames(unittest.TestCase):
    def test_grammar_and_uniqueness(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, GRAMMAR)
            self.assertRegex(n, NAME)
        self.assertNotRegex("engine build", GRAMMAR)
        self.assertNotRegex("", GRAMMAR)

    def test_benchmark_json_matches_run_py(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        self.assertIn(("setup_s", "s"), run.END_TO_END)
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class CanonicalHash(unittest.TestCase):
    """check.py hashes tools/local_verify.py's canonical form, so two outputs
    hash alike exactly when that script calls them equal."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def test_uses_local_verify_canon(self):
        sys.path.insert(0, str(ROOT / "tools"))
        import local_verify
        self.assertIs(check.canon, local_verify.canon)

    def test_hash_canonical(self):
        cols, rows = ["z", "a"], [(1, float("nan")), (None, -0.0), (2, 0.1)]
        h = check.canon_hash(cols, rows)
        self.assertEqual(h["rows"], 3)
        self.assertEqual(h["cols"], ["a", "z"])
        # row and column order do not matter; any changed value does
        self.assertEqual(check.canon_hash(["a", "z"], [(r[1], r[0]) for r in reversed(rows)]), h)
        self.assertNotEqual(check.canon_hash(cols, [(1, float("nan")), (None, 0.0), (2, 0.1)]), h)
        self.assertNotEqual(check.canon_hash(cols, rows[:2]), h)

    def test_dumped_gate(self):
        """A dumped gate output (the newest check-pass sample the benchmark
        keeps under .bench_build, else a kernel oracle's output on a small
        generated corpus) hashes like the same rows in another order."""
        samples = sorted((ROOT / ".bench_build" / "sample").glob("*/*"))
        con = duckdb.connect()
        if samples:
            dump = samples[-1]
        else:
            data = Path(self.tmp.name) / "data"
            gen.generate("corpus_curation", 7, data)
            con = check.connect(data)
            dump = Path(self.tmp.name) / "graft_shingles"
            dump.mkdir()
            con.execute(f"COPY ({check.KERNEL_ORACLES['graft_shingles']}) "
                        f"TO '{dump}/part-0.parquet' (FORMAT PARQUET)")
        cols = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM '{dump}/*.parquet'").fetchall()]
        shuffled = (f"SELECT {', '.join(reversed(cols))} FROM '{dump}/*.parquet' "
                    f"ORDER BY hash({', '.join(cols)})")
        got = check.dump_hash(con, dump)
        self.assertGreater(got["rows"], 0)
        self.assertEqual(check.query_hash(con, shuffled), got)


class SeededGenerator(unittest.TestCase):
    def generate(self, workload, seed):
        d = Path(tempfile.mkdtemp(dir=self.tmp.name))
        return d, gen.generate(workload, seed, d)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def test_same_seed_same_bytes_other_seed_same_shape(self):
        for workload in ("corpus_curation", "etl_write"):
            a, sa = self.generate(workload, 1)
            b, sb = self.generate(workload, 1)
            c, sc = self.generate(workload, 2)
            for t in gen.WORKLOADS[workload]["tables"]:
                name = f"{t}.parquet"
                self.assertEqual((a / name).read_bytes(), (b / name).read_bytes(), name)
                if t not in ("region", "nation"):
                    self.assertNotEqual((a / name).read_bytes(), (c / name).read_bytes(), name)
                self.assertEqual(sa["tables"][t]["rows"], sc["tables"][t]["rows"])
            self.assertEqual(sa.get("dup_share"), sc.get("dup_share"))

    def test_planted_duplicates(self):
        d, s = self.generate("corpus_curation", 3)
        con = duckdb.connect()
        n, near = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE text LIKE '% dup') "
            f"FROM '{d}/documents.parquet'").fetchone()
        self.assertEqual(near, round(n * gen.DUP_SHARE))
        exact = con.execute(
            f"SELECT count(*) - count(DISTINCT text) FROM '{d}/documents.parquet'").fetchone()[0]
        self.assertGreaterEqual(exact, round(n * gen.EXACT_SHARE))

    def test_recorded_input_summary(self):
        recorded = json.loads((HERE / "inputs.json").read_text())
        for workload, rec in recorded.items():
            _, s = self.generate(workload, rec["seed"])
            self.assertEqual({t: v["rows"] for t, v in s["tables"].items()},
                             {t: v["rows"] for t, v in rec["tables"].items()})
            self.assertEqual(s.get("dup_share"), rec.get("dup_share"))


if __name__ == "__main__":
    unittest.main()
