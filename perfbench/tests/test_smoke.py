"""Tiny-size smoke runs of every workload through perfbench/run.py.

    python3 -m unittest discover -s perfbench/tests

Each run builds graft first if needed, then takes about 30 s.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, cwd=REPO):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "6", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


class Smoke(unittest.TestCase):
    def check(self, res, names):
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        out = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreater(out["attempted"], 0)
        self.assertEqual(set(out["metrics"]), set(names))
        runs = os.path.join(build.target_dir(), "runs")
        self.assertEqual(os.listdir(runs) if os.path.isdir(runs) else [], [])
        return out["metrics"]

    def test_end_to_end_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                m = self.check(run(w["name"], 0), [e["name"] for e in SPEC["end_to_end"]])
                self.assertTrue(all(v["value"] > 0 for v in m.values()), m)

    def test_per_layer_metrics(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                m = self.check(run(w["name"], 1), [e["name"] for e in SPEC["per_layer"]])
                self.assertEqual(m["storefp.builds_in_loop"]["value"], 0)
                if w["name"] == "pmr_read":
                    # the IVF codebook blob and index layout, adopted every round
                    self.assertEqual(m["storefp.setup_builds"]["value"], 2)
                    self.assertGreater(m["storefp.adopt_ms"]["value"], 0)
                self.assertGreaterEqual(m["trace.coverage"]["value"], 0.9)

    def test_refuses_to_run_without_the_program_sources(self):
        bare = os.path.join(build.target_dir(), "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        try:
            shutil.copytree(HERE, os.path.join(bare, "perfbench"))
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
            res = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
            self.assertNotEqual(res.returncode, 0)
            self.assertEqual(res.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
