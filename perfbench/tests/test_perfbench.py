"""Self-tests of the benchmark itself (not of the program).

    python3 -m unittest discover -s perfbench/tests -v

The generator and metric-name tests take seconds. The tests that run a
workload launch a JVM through perfbench/run.py at the "tiny" input size
(and build the program first if needed), so the whole file takes a few
minutes.
"""

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_corpus  # noqa: E402
import gen_ops  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench(*args):
    """Run perfbench/run.py from the repository root; (code, stdout)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return p.returncode, p.stdout


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class CorpusTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen_corpus.generate(a, 7, 12, 40, extra_every=3)
            gen_corpus.generate(b, 7, 12, 40, extra_every=3)
            gen_corpus.generate(c, 8, 12, 40, extra_every=3)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("listings_05_2020.csv", differ)
            self.assertIn("expected.tsv", differ)

    def test_corpus_has_the_reference_shape(self):
        with tempfile.TemporaryDirectory() as d:
            counts = gen_corpus.generate(d, 3, 12, 60)
            self.assertEqual(len(counts["files"]), 12)
            with open(os.path.join(d, "listings_05_2020.csv"), encoding="utf-8") as f:
                head = f.readline()
                body = f.read()
            self.assertEqual(head.count(","), 105)  # 106 columns
            self.assertIn('"Host_id"', head)  # mixed-case header
            self.assertIn('""', body)  # embedded quotes
            for key in ("dups", "null_price", "null_host", "out_of_month"):
                self.assertGreater(counts[key], 0, key)
            self.assertEqual(counts["fact_rows"], counts["raw_rows"] - counts["dups"] -
                             counts["null_price"] - counts["null_host"] - counts["out_of_month"])

    def test_ops_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_ops.generate(a, 42, 0.001)
            gen_ops.generate(b, 42, 0.001)
            names = sorted(os.listdir(a))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))


class MetricNamesTest(unittest.TestCase):

    def test_every_metric_name_is_well_formed(self):
        names = list(run.END_TO_END) + [n for n, _ in run.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)

    def test_benchmark_json_matches_the_runner(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_names())


class RunTest(unittest.TestCase):
    """Tiny-size runs through the real entry point."""

    def check_run(self, workload, trace):
        code, out = bench("--workload", workload, "--seed", "1", "--seconds", "1",
                          "--trace", str(trace), "--size", "tiny")
        self.assertEqual(code, 0, out)
        res = last_json(out)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = [(n, "s") for n in run.END_TO_END] if trace == 0 else run.per_layer_names()
        self.assertEqual(sorted((k, v["unit"]) for k, v in res["metrics"].items()), sorted(want))
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        if trace == 0:
            for k, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, k)
        return res

    def test_batch_build_emits_every_metric(self):
        self.check_run("batch_build", 0)
        res = self.check_run("batch_build", 1)
        self.assertGreater(res["metrics"]["staging.jobs"]["value"], 0)
        self.assertGreater(res["metrics"]["ingest.plan.jobs"]["value"], 0)

    def test_refresh_ticks_emits_every_metric(self):
        self.check_run("refresh_ticks", 0)
        res = self.check_run("refresh_ticks", 1)
        self.assertGreater(res["metrics"]["refresh.tick.files_written"]["value"], 0)
        self.assertGreater(res["metrics"]["refresh.tick.reprocessed_files"]["value"], 0)

    def test_operator_suite_emits_every_metric(self):
        self.check_run("operator_suite", 0)
        res = self.check_run("operator_suite", 1)
        for q in run.QUERIES:
            self.assertGreater(res["metrics"][f"ops.{q}.jobs"]["value"], 0, q)

    def test_planted_wrong_expected_value_fails_the_gate(self):
        with tempfile.TemporaryDirectory() as d:
            size = run.SIZES["tiny"]
            gen_corpus.generate(d, 1, run.BATCH_MONTHS, size["batch_rows"])
            path = os.path.join(d, "expected.tsv")
            with open(path) as f:
                lines = f.read().splitlines()
            i = next(i for i, l in enumerate(lines) if "\tn_listings\t" in l)
            view, key, col, val = lines[i].split("\t")
            lines[i] = "\t".join((view, key, col, str(int(val) + 1)))
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            code, out = bench("--workload", "batch_build", "--seed", "1", "--seconds", "1",
                              "--trace", "0", "--size", "tiny", "--input", d)
        self.assertEqual(code, 1)
        res = last_json(out)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])

    def test_without_the_program_it_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("work", "out", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_build",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                               timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
