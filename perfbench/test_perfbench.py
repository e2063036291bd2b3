#!/usr/bin/env python3
"""Self-checks of the benchmark itself.

    python3 perfbench/test_perfbench.py          # from the repository root

- one seed produces byte-identical generated inputs on two invocations
  (and another seed produces different ones);
- the serving corpus has the measured shape of the engine's sf0.1
  documents/embeddings tables that perfbench/src/main/scala/perfbench/Gen.scala
  documents;
- every metric BENCHMARK.json names is printed, with its unit, on every
  workload, traced and untraced;
- a deliberately corrupted output is counted as failed;
- a directory holding only BENCHMARK.json and perfbench/ fails without
  printing a result.

The metric checks run each workload twice for one second each, so the
suite takes a few minutes.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


class SelfCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()
        cls.spec = run.spec()

    def test_same_seed_same_inputs(self):
        for w in [x["name"] for x in self.spec["workloads"]]:
            digests = []
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                work = run.new_work(f"selfcheck-{w}-{tag}")
                try:
                    self.assertEqual(run.generate(w, seed, work), 0)
                    digests.append(tree_digest(os.path.join(work, "data")))
                finally:
                    shutil.rmtree(work, ignore_errors=True)
            self.assertEqual(digests[0], digests[1], f"{w}: seed 7 differs")
            self.assertNotEqual(digests[0], digests[2], f"{w}: seeds 7, 8 agree")

    def test_serve_corpus_shape(self):
        work = run.new_work("selfcheck-shape")
        try:
            self.assertEqual(run.generate("serve", 7, work), 0)
            with open(os.path.join(work, "data", "docs.jsonl")) as f:
                docs = [json.loads(x) for x in f]
            with open(os.path.join(work, "data", "vecs.jsonl")) as f:
                vecs = [json.loads(x) for x in f]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        n = len(docs)
        toks = [d["text"].split(" ") for d in docs]
        df = {}
        for t in toks:
            for w in set(t):
                df[w] = df.get(w, 0) + 1
        self.assertEqual(len(df), 31)
        self.assertTrue(0.04 < df.pop("dup") / n < 0.06)
        self.assertTrue(all(0.72 < c / n < 0.82 for c in df.values()))
        lens = sorted(len(t) - (t[-1] == "dup") for t in toks)
        self.assertEqual((lens[0], lens[-1]), (10, 100))
        self.assertTrue(50 <= lens[n // 2] <= 60)
        self.assertTrue(0.38 < sum(d["lang"] == "en" for d in docs) / n < 0.44)
        self.assertTrue(0.36 < len(vecs) / n < 0.44)
        for v in vecs:
            self.assertEqual(len(v["vec"]), 64)
            self.assertAlmostEqual(sum(x * x for x in v["vec"]), 1.0, places=4)

    def _metrics_ok(self, res, trace):
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual([m["name"] for m in wanted], list(res["metrics"]))
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_metrics_printed_and_corruption_fails(self):
        for w in [x["name"] for x in self.spec["workloads"]]:
            for trace, corrupt in ((0, False), (1, True)):
                args = ["--workload", w, "--seed", "3", "--seconds", "1",
                        "--trace", str(trace)] + (["--corrupt"] if corrupt else [])
                rc, res = bench(*args)
                self.assertEqual(rc, 0, args)
                self._metrics_ok(res, trace)
                if corrupt:
                    self.assertGreaterEqual(res["failed"], 1, args)
                    self.assertFalse(res["correct"], args)
                else:
                    self.assertEqual(res["failed"], 0, args)
                    self.assertTrue(res["correct"], args)

    def test_bare_directory_fails_without_result(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "results",
                                                          "project", "__pycache__"))
            shutil.copytree(os.path.join(HERE, "project"),
                            os.path.join(d, "perfbench", "project"),
                            ignore=shutil.ignore_patterns("target", "project"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "pipeline", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
