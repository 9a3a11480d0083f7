"""The benchmark's own tests, on the tiny `--smoke` inputs.

    python3 -m unittest perfbench/test_bench.py     (from the repo root)

Each case starts one benchmark JVM (Spark session, set-up, warm-up), so
the file takes a couple of minutes; the first case also compiles.
"""
import json
import os
import shutil
import subprocess
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def run(workload, trace, cwd=ROOT):
    p = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                            "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, res, names):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), names)
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
        for k, v in res["metrics"].items():
            self.assertEqual(v["unit"], units[k], k)

    def test_untraced_reports_every_end_to_end_metric(self):
        res = result(run("fcs-etl", 0))
        self.check(res, {m["name"] for m in BENCH["end_to_end"]})
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)

    def test_traced_reports_every_per_layer_metric(self):
        names = {m["name"] for m in BENCH["per_layer"]}
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                p = run(w["name"], 1)
                res = result(p)
                self.check(res, names)
                self.assertIn("per-layer spans", p.stdout)
                self.assertIn("tracing overhead", p.stdout)
                if w["name"] == "fcs-etl":
                    # the corpus-curate pass rides on fcs-etl's traced phase
                    for k in ("Dedup.minhash_s", "Dedup.candidate_pairs", "ConnectedComponents.jobs",
                              "CorpusOps.decontam_s", "scaling.cores1_ratio"):
                        self.assertGreater(res["metrics"][k]["value"], 0, k)

    def test_refuses_without_graft_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-test")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run("fcs-etl", 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
