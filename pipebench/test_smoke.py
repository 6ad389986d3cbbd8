#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once on tiny inputs through
the same code path, then the result schema against BENCHMARK.json.

Run from the repository root:  python3 pipebench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
CALLS = {"paper_2k": 10, "corpus_ingest": 7}


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    bench = json.load(open("BENCHMARK.json"))

    def check(self, res, workload, metrics):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        # one check run plus at least one timed run, each making every call
        self.assertEqual(res["attempted"] % CALLS[workload], 0)
        self.assertGreaterEqual(res["attempted"] // CALLS[workload], 2)
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in metrics})
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_every_workload(self):
        self.assertEqual(sorted(CALLS), sorted(w["name"] for w in self.bench["workloads"]))
        for w in CALLS:
            res = run(w, 0)
            self.check(res, w, self.bench["end_to_end"])
            for m in ("wall_s", "setup_s", "block_mb_peak", "ok_ratio", "oracle_match_ratio"):
                self.assertGreater(res["metrics"][m]["value"], 0, (w, m))

    def test_per_layer_traced(self):
        res = run("paper_2k", 1)
        self.check(res, "paper_2k", self.bench["per_layer"])
        m = res["metrics"]
        for layer in ("pm.EnabledTime.withEnabled", "pm.BatchDiscovery.discoverFullFromStages",
                      "rules.ActivationRulesText.render", "pm.Ep1.analyze",
                      "sources.EventLogCsv.writeCsvGz"):
            self.assertGreater(m[f"{layer}.wall_s"]["value"], 0, layer)
            self.assertGreater(m[f"{layer}.jobs"]["value"], 0, layer)
        self.assertEqual(m["ext.Dedup.wall_s"]["value"], 0)  # not called on this workload


if __name__ == "__main__":
    unittest.main()
