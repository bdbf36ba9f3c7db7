"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py          # from the checkout root

The digest tests run in a second. The smoke tests run the real command
with a one-second window (one timed pass), once untraced and once traced
per workload, plus one run per workload with a corrupted golden digest;
they build the library on first use and take several minutes.
"""
import contextlib
import io
import json
import os
import pathlib
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def args(workload, trace):
    return ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]


def bench(workload, trace):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args(workload, trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def bench_perturbed(workload, output):
    """One untraced run in this process, with the golden digest of
    `output` corrupted."""
    compare = oracle.Oracle.compare

    def corrupted(self, name, got, golden=None):
        if name == output:
            cols, n, _ = oracle.digest(self.result(name))
            golden = (cols, n, "0" * 32)
        return compare(self, name, got, golden)

    out = io.StringIO()
    with mock.patch.object(oracle.Oracle, "compare", corrupted), contextlib.redirect_stdout(out):
        run.main(args(workload, 0))
    return json.loads(out.getvalue().strip().splitlines()[-1])


class DigestTest(unittest.TestCase):
    def test_generator_is_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(os.path.join(d, "a"), 3, 0.001)
            gen.generate(os.path.join(d, "b"), 3, 0.001)
            gen.generate(os.path.join(d, "c"), 4, 0.001)
            read = lambda s: pathlib.Path(d, s, "lineitem.parquet").read_bytes()
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))

    def test_digest_ignores_row_order_and_int_float_spelling(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0]})
        b = pd.DataFrame({"v": [3, 0.5], "k": [2.0, 1.0]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        c = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0000000000000004]})
        self.assertNotEqual(oracle.digest(a)[2], oracle.digest(c)[2])

    def test_compare_fails_on_perturbed_golden(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 1, 0.001)
            orc = oracle.Oracle(d, {"n": "SELECT r_name FROM region"})
            got = orc.result("n")
            self.assertIsNone(orc.compare("n", got))
            cols, n, dig = oracle.digest(got)
            self.assertIn("digest", orc.compare("n", got, (cols, n, "0" * 32)))
            self.assertIn("rows", orc.compare("n", got.iloc[:4]))


class SmokeTest(unittest.TestCase):
    def check(self, res, names):
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in names))
        for m in names:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_every_workload_emits_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check(bench(w["name"], 0), SPEC["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                self.check(bench(w["name"], 1), SPEC["per_layer"])

    def test_perturbed_golden_counts_as_failure(self):
        # every timed execution of the op produced the mismatching output
        res = bench_perturbed("serve_headline", "q01_top_products")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        res = bench_perturbed("pipeline_daily", "pipeline.published_corpus")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
