"""Tests of the benchmark's own Python code.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_corpora(self):
        a = gen_corpus.generate(5, 120, self.tmp / "a")
        b = gen_corpus.generate(5, 120, self.tmp / "b")
        c = gen_corpus.generate(6, 120, self.tmp / "c")
        self.assertEqual(a, b)
        self.assertEqual(run.tree_hash(self.tmp / "a"), run.tree_hash(self.tmp / "b"))
        self.assertNotEqual(run.tree_hash(self.tmp / "a"), run.tree_hash(self.tmp / "c"))

    def test_corpus_counts_and_junk_share(self):
        exp = gen_corpus.generate(3, 200, self.tmp)
        files = sorted((self.tmp / "corpus").iterdir())
        self.assertEqual(len(files), exp["raw_documents"])
        self.assertEqual(exp["valid_documents"] + exp["junk_documents"], exp["raw_documents"])
        self.assertEqual(exp["junk_documents"], 4)  # 2% of 200
        parsed = 0
        for f in files:
            try:
                doc = json.loads(f.read_text())
            except json.JSONDecodeError:
                continue
            sections = doc.get("transcript", {}).get("sections")
            if sections:
                parsed += 1
                blocks = [b["text"] for s in sections for t in s["turns"] for b in t["text_blocks"]]
                self.assertTrue(all(b.strip() for b in blocks))
        self.assertEqual(parsed, exp["valid_documents"])
        self.assertEqual(json.loads((self.tmp / "expected.json").read_text()), exp)

    def test_same_seed_gives_identical_tables(self):
        gen_tables.generate(9, 0.001, self.tmp / "a")
        gen_tables.generate(9, 0.001, self.tmp / "b")
        self.assertEqual(run.tree_hash(self.tmp / "a"), run.tree_hash(self.tmp / "b"))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_and_bounds(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        metric_names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        self.assertEqual(len(metric_names), len(set(metric_names)))
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))

    def test_fails_fast_without_the_repository(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
