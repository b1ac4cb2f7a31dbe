#!/usr/bin/env python3
"""The benchmark's own tests: BENCHMARK.json's shape, a tiny-seed smoke run
of every workload (untraced and traced) that checks every named metric is
emitted with its unit, and the refusal to run without the program sources.

    python3 -m unittest perfbench/test_bench.py

The smoke runs build the benchmark first if needed and take a few minutes.
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace, seed=3, cwd=ROOT, runner=RUN):
    p = subprocess.run([sys.executable, runner, "--workload", workload, "--seed", str(seed),
                        "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    return p


class SpecTest(unittest.TestCase):
    def test_shape(self):
        spec = load_spec()
        self.assertEqual(set(spec), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertEqual(spec["paths"], ["perfbench"])
        self.assertTrue(1 <= spec["run_seconds"] <= 60)
        self.assertTrue(2 <= len(spec["workloads"]) <= 8)
        names = []
        for w in spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
            names.append(w["name"])
        for m in spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)), "names are used once")
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))
        self.assertLess(len(json.dumps(spec)), 64 * 1024)


class SmokeTest(unittest.TestCase):
    """Every workload on a tiny seed: checks pass, every metric is emitted."""

    def check_result(self, p, metrics):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = p.stdout.strip().splitlines()[-1]
        r = json.loads(last)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in metrics}
        self.assertEqual(set(r["metrics"]), set(want))
        for name, v in r["metrics"].items():
            self.assertEqual(v["unit"], want[name], name)
            self.assertTrue(math.isfinite(v["value"]), name)
        return r

    def smoke(self, workload):
        spec = load_spec()
        plain = self.check_result(run(workload, 0), spec["end_to_end"])
        for name, v in plain["metrics"].items():
            self.assertGreater(v["value"], 0, f"{workload} {name} is never 0")
        traced = self.check_result(run(workload, 1), spec["per_layer"])
        self.assertGreater(traced["metrics"]["spark.jobs_per_op"]["value"], 0)
        return traced

    def test_catalog_sync(self):
        m = self.smoke("catalog_sync")["metrics"]
        self.assertGreater(m["catalog.ops_per_s"]["value"], 0)
        self.assertEqual(m["ingest.unmapped_ms"]["value"], 0, "every sync job has a call-site rule")
        self.assertGreater(m["merge.write_ms"]["value"], 0)
        self.assertGreater(m["sources.scan_tasks_per_batch"]["value"], 0)
        self.assertEqual(m["streaming.text.batches"]["value"], 0, "streaming is bypassed")

    def test_corpus_ingest(self):
        m = self.smoke("corpus_ingest")["metrics"]
        self.assertEqual(m["streaming.text.batches"]["value"], 2)
        self.assertEqual(m["merge.write_ms"]["value"], 0, "the sync is bypassed")
        self.assertGreater(m["search.recall_at_10"]["value"], 0)
        # the dedup survivors do not depend on tracing
        counts = []
        for t in (0, 1):
            with open(os.path.join(ROOT, ".bench_build", "last",
                                   f"corpus_ingest-trace{t}", "survivors.json")) as fh:
                counts.append(json.load(fh))
        self.assertEqual(counts[0], counts[1])


class RefusalTest(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        d = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        try:
            p = run("catalog_sync", 0, cwd=d, runner=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
