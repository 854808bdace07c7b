"""Self-tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py          # from the repo root

- the generator is deterministic per seed and differs across seeds;
- BENCHMARK.json is well formed and agrees with the metric catalog, and every
  per-layer metric names the end-to-end metric and workload it should move;
- a tiny-size run of each workload passes its output checks (builds the
  engine on first use).
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _gen(workload, seed, out):
    return gen.generate(workload, seed, out, ops=4, warmup_ops=2, size="tiny")


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in metrics.WORKLOADS:
                a, b, c = (os.path.join(tmp, "%s-%s" % (w, k)) for k in "abc")
                _gen(w, gen.DEFAULT_SEED, a)
                _gen(w, gen.DEFAULT_SEED, b)
                _gen(w, gen.HELD_OUT_SEED, c)
                self.assertTrue(_same_tree(a, b), w)
                self.assertFalse(_same_tree(a, c), w)

    def test_planted_outcomes_are_recorded(self):
        with tempfile.TemporaryDirectory() as tmp:
            etl = _gen("etl_batches", 3, os.path.join(tmp, "e"))
            self.assertGreater(etl["fact_rows"], 0)
            self.assertTrue(any(b["resent"] for b in etl["batches"]))
            self.assertTrue(all(b["valid"] < b["rows"] for b in etl["batches"]))
            corpus = _gen("corpus_ingest", 3, os.path.join(tmp, "c"))
            self.assertEqual(corpus["indexed_docs"], len(corpus["indexed_ids"]))
            self.assertGreater(sum(corpus["planted"].values()), 0)


class CatalogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_benchmark_json_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        for w in b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)

    def test_benchmark_json_matches_catalog(self):
        self.assertEqual({w["name"]: w["why"] for w in self.bench["workloads"]},
                         {k: v["why"] for k, v in metrics.WORKLOADS.items()})
        self.assertEqual({m["name"]: (m["unit"], m["better"], m["bound"])
                          for m in self.bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in self.bench["per_layer"]},
                         {k: v[:2] for k, v in metrics.PER_LAYER.items()})

    def test_every_layer_metric_names_what_it_moves(self):
        for name, (_, _, moves) in metrics.PER_LAYER.items():
            if name in metrics.DIAGNOSTIC:
                self.assertEqual(moves, [], name)
                continue
            self.assertTrue(moves, name)
            for e2e, workload in moves:
                self.assertIn(e2e, metrics.END_TO_END, name)
                self.assertIn(workload, metrics.WORKLOADS, name)


class SmokeTest(unittest.TestCase):
    def _run(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "7", "--seconds", "1", "--trace", str(trace),
                            "--size", "tiny"], cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        want = metrics.PER_LAYER if trace else metrics.END_TO_END
        self.assertEqual(set(line["metrics"]), set(want))

    def test_etl_batches(self):
        self._run("etl_batches", 0)

    def test_corpus_ingest(self):
        self._run("corpus_ingest", 0)

    def test_corpus_ingest_traced(self):
        self._run("corpus_ingest", 1)


if __name__ == "__main__":
    unittest.main()
