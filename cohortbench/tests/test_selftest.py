#!/usr/bin/env python3
"""Self-test of the cohort benchmark at tiny input sizes.

    python3 cohortbench/tests/test_selftest.py            # from the repo root

Checks, per workload: an untraced run emits every end-to-end metric of
BENCHMARK.json and a traced run every per-layer metric, each with its
unit; the workload's own layers are measured (non-zero) in the traced
run; a deliberately perturbed expectation makes the correctness gate
fail; and the command refuses to run without the engine sources.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer metrics each workload's traced run must actually measure
OWN_LAYERS = {
    "af_cohort_scan": [
        "gds.decode_geno_s", "gds.decode_pg_s", "gds.inflate_s",
        "gds.chunks_touched", "kernel.geno_stats_genotypes_per_s_core",
        "kernel.packed_genotypes_per_s_core", "api.open_s", "api.build_s",
        "spark.job_active_s", "spark.tasks", "codegen.compiles",
        "gdswrite.encode_s", "gdswrite.compress_s",
        "baseline.genotypes_per_s_core_local1",
        # the write side: one VCF→GDS→VCF round trip in the traced run
        "vcf.parse_s", "bgzf.inflate_s", "roundtrip.import_genotypes_per_s",
        "roundtrip.export_genotypes_per_s"],
    "operator_board": [
        "board.q33.cold_s", "board.q108.warm_s", "board.q182.warm_s",
        "board.q333.warm_s",
        "spark.job_active_s", "spark.stages", "codegen.compiles",
        "shared_stage.hits"],
}


def run(workload, trace=0, perturb=0, cwd=ROOT, seconds="2"):
    cmd = [sys.executable, os.path.join(BENCH, "run.py") if cwd == ROOT
           else "cohortbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", seconds, "--trace", str(trace), "--scale", "tiny",
           "--perturb", str(perturb)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=400)


def result(p):
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, p.stderr[-3000:]
    return json.loads(lines[-1])


class SelfTest(unittest.TestCase):

    def check_metrics(self, out, listed):
        self.assertEqual(set(out), {m["name"] for m in listed})
        for m in listed:
            self.assertEqual(out[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(out[m["name"]]["value"], (int, float))

    def test_workloads_emit_every_metric(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = result(run(w))
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 2)
                self.check_metrics(r["metrics"], SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0,
                                       m["name"])
                t = result(run(w, trace=1))
                self.assertTrue(t["correct"], t)
                self.check_metrics(t["metrics"], SPEC["per_layer"])
                for name in OWN_LAYERS[w]:
                    self.assertNotEqual(t["metrics"][name]["value"], 0, name)

    def test_gate_rejects_perturbed_expectation(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = result(run(w, perturb=1))
                self.assertFalse(r["correct"], r)

    def test_refuses_without_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "cohortbench"),
                            ignore=shutil.ignore_patterns(
                                ".work", "target", "project/project"))
            p = run("af_cohort_scan", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip())
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main(verbosity=2)
