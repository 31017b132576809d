#!/usr/bin/env python3
"""The seeded input generator is deterministic and seed-sensitive.

For each workload: two generations with the same seed must give the
same files with byte-identical content (the SHA-256 of every decoded
record, in order); a generation with another seed must give the same
files with the same row counts, and different content in every file.
Content, not container bytes: parquet-mr writes each column chunk's
encoding list in hash-set order, which varies between JVM runs.

Run from the repository root:  python3 perfbench/tests/test_generator.py
"""
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import run  # noqa: E402


def generate(workload: str, seed: int, out: Path) -> dict:
    """Generate into `out`; return {relative path: (row count, content sha256)}."""
    classes = build.build()
    jars = build.spark_jars()
    r = subprocess.run(
        ["java", "-Xmx1g", "-cp", f"{classes.resolve()}:{jars}/*", "graft.perfbench.Main", "gen",
         "--workload", workload, "--seed", str(seed), "--out", str(out)],
        capture_output=True, text=True, check=True)
    manifest = {}
    for line in r.stdout.split("\n"):
        if line.strip():
            rel, rows, sha = line.rsplit(" ", 2)
            manifest[rel] = (int(rows), sha)
    return manifest


class GeneratorTest(unittest.TestCase):
    def check(self, workload: str):
        tmp = Path(tempfile.mkdtemp(prefix="perfbench-gen-", dir="."))
        try:
            a = generate(workload, 7, tmp / "a")
            b = generate(workload, 7, tmp / "b")
            c = generate(workload, 8, tmp / "c")
        finally:
            shutil.rmtree(tmp)
        self.assertTrue(a, "no input files generated")
        self.assertTrue(all(rows > 0 for rows, _ in a.values()), a)
        self.assertEqual(a, b, "same seed must give byte-identical input content")
        self.assertEqual({k: rows for k, (rows, _) in a.items()},
                         {k: rows for k, (rows, _) in c.items()},
                         "another seed must give the same files and row counts")
        same = [k for k in a if a[k][1] == c[k][1]]
        self.assertEqual(same, [], "another seed must give different content")

    def test_workloads(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.check(w)


if __name__ == "__main__":
    unittest.main()
