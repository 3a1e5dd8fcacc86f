"""Tests of the benchmark itself (not of graft):

    python3 -m unittest discover -s perfbench/tests -v

- the input generator is deterministic: one seed, byte-identical inputs;
- a corrupted output fails the checks and is counted, never passed;
- the span tree of a tiny traced run nests, and its top-level layer spans
  account for the traced wall time;
- the printed metric names are exactly those BENCHMARK.json declares;
- without graft's sources next to it the benchmark fails without a result.

Each test starts a small local Spark process, so the suite takes minutes.
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
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def run(*args):
    p = subprocess.run([sys.executable, RUN] + list(args), cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       timeout=600)
    return p.returncode, p.stdout.decode(), p.stderr.decode()


def result(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def tree_digest(d):
    """Hash of every file's name and bytes."""
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        os.makedirs(SCRATCH, exist_ok=True)
        dirs = []
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            d = os.path.join(SCRATCH, "gen_" + name)
            shutil.rmtree(d, ignore_errors=True)
            rc, out, err = run("--workload", "all", "--seed", str(seed),
                               "--scale", "tiny", "--generate-only", d)
            self.assertEqual(rc, 0, err[-2000:])
            dirs.append(d)
        for w in [x["name"] for x in SPEC["workloads"]]:
            a, b, c = (tree_digest(os.path.join(d, w)) for d in dirs)
            self.assertEqual(a, b, w + ": same seed gave different bytes")
            self.assertNotEqual(a, c, w + ": another seed gave the same bytes")
            with open(os.path.join(dirs[0], w, "inputs.json")) as f:
                stamp = json.load(f)
            self.assertEqual(stamp["seed"], 5)
            self.assertGreater(stamp["input_rows"], 0)
            self.assertGreater(stamp["input_bytes"], 0)
            self.assertTrue(stamp["sizes"])


class CheckTest(unittest.TestCase):
    def test_clean_run_passes_and_prints_end_to_end(self):
        rc, out, err = run("--workload", "variant_load", "--seed", "9",
                           "--seconds", "0", "--trace", "0", "--scale", "tiny")
        self.assertEqual(rc, 0, err[-2000:])
        r = result(out)
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        for m in SPEC["end_to_end"]:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(r["metrics"][m["name"]]["value"], 0)

    def test_corrupted_output_fails(self):
        rc, out, err = run("--workload", "variant_load", "--seed", "9",
                           "--seconds", "0", "--trace", "0", "--scale", "tiny",
                           "--corrupt", "annotated")
        self.assertEqual(rc, 0, err[-2000:])
        r = result(out)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertIn("CHECK FAILED", out)


class TraceTest(unittest.TestCase):
    def test_span_tree_nests(self):
        rc, out, err = run("--workload", "graph_rounds", "--seed", "3",
                           "--seconds", "0", "--trace", "1", "--scale", "tiny")
        self.assertEqual(rc, 0, err[-2000:])
        r = result(out)
        self.assertTrue(r["correct"])
        self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        path = [l for l in out.splitlines() if l.startswith("spans: ")][-1][7:]
        with open(path) as f:
            spans = json.load(f)
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(len({s["run_id"] for s in spans}), 1)
        for s in spans:
            self.assertLessEqual(s["start_ns"], s["end_ns"])
            if s["parent"]:
                p = by_id[s["parent"]]
                self.assertLessEqual(p["start_ns"], s["start_ns"], s["name"])
                self.assertLessEqual(s["end_ns"], p["end_ns"], s["name"])
        roots = [s for s in spans if s["name"] == "workload"]
        self.assertEqual(len(roots), 1)
        root = roots[0]
        tops = [s for s in spans if s["parent"] == root["id"]]
        self.assertEqual([t["name"] for t in tops],
                         ["graphs.cc", "graphs.lpa", "graphs.audit", "graphs.pagerank"])
        for t in tops:
            kids = [s["name"] for s in spans if s["parent"] == t["id"]]
            self.assertEqual(kids, [t["name"] + x for x in (".build", ".plan", ".exec")])
        covered = sum(t["end_ns"] - t["start_ns"] for t in tops)
        self.assertLessEqual(covered, root["end_ns"] - root["start_ns"])
        self.assertAlmostEqual(root["self_s"],
                               (root["end_ns"] - root["start_ns"] - covered) / 1e9,
                               places=6)


class StandaloneTest(unittest.TestCase):
    def test_fails_without_graft_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(SPEC["command"] + [
                "--workload", "graph_rounds", "--seed", "1", "--seconds", "1",
                "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                stderr=subprocess.PIPE, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn(b'"correct"', p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
