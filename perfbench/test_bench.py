"""Checks of the benchmark itself, not of the engine.

Run from the root of a checkout (each test runs the benchmark on the
`relational` workload, about a minute per run):

    python3 perfbench/test_bench.py
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOAD = "relational"
# The stated tracing overhead: traced and untraced warm passes of one run,
# and the traced layer sum against the untraced pass, agree within this
# share of the untraced warm pass.
OVERHEAD_SHARE = 0.15


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        return bench, json.load(f)


def run(seed, trace):
    """Run the benchmark once; return (printed lines, last-line JSON, result file)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    with open(os.path.join(STATE, f"{WORKLOAD}-seed{seed}-trace{trace}.result.json")) as f:
        return lines, json.loads(lines[-1]), json.load(f)


def printed_metrics(lines):
    """Names of the `  name value unit` lines."""
    return [m.group(1) for m in (re.match(r"^  (\S+)\s+-?[\d.]+ \S+", l) for l in lines[:-1]) if m]


class BenchmarkSpec(unittest.TestCase):
    def test_workloads_match(self):
        bench, work = spec()
        self.assertEqual([w["name"] for w in bench["workloads"]], list(work["workloads"]))
        for w in work["workloads"].values():
            self.assertTrue(w["queries"] and w["why"])

    def test_untraced_names_and_seeds(self):
        bench, _ = spec()
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        results = []
        for seed in (1, 2):
            lines, last, result = run(seed, 0)
            self.assertEqual(set(last["metrics"]), set(e2e))
            for name, m in last["metrics"].items():
                self.assertEqual(m["unit"], e2e[name])
                self.assertGreater(m["value"], 0, name)
            self.assertLessEqual(set(printed_metrics(lines)), set(e2e) | {"failed_share"})
            self.assertEqual(result["seed"], seed)
            results.append(result)
        # The seed orders the queries; it does not change which run or fail.
        self.assertEqual(sorted(results[0]["queries"]), sorted(results[1]["queries"]))
        self.assertEqual(results[0]["failed_share"], results[1]["failed_share"])

    def test_traced_layers_reconcile(self):
        bench, _ = spec()
        layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
        lines, last, r = run(1, 1)
        self.assertEqual(set(last["metrics"]), set(layers))
        for name, m in last["metrics"].items():
            self.assertEqual(m["unit"], layers[name])
        self.assertLessEqual(set(printed_metrics(lines)),
                             set(layers) | {m["name"] for m in bench["end_to_end"]} | {"failed_share"})
        # Jobs are bucketed by their SQL execution's call site, never by the
        # AQE thread pool that submitted them.
        self.assertNotIn("CompletableFuture", r["construct_sites"])
        self.assertEqual(r["trace.unattributed_jobs"], 0)
        untraced = r["untraced_warm_pass_s"]
        layer_sum = r["construct.s"] + r["plan.s"] + r["execute.s"]
        self.assertLess(abs(r["trace.overhead_s"]), OVERHEAD_SHARE * untraced)
        self.assertLess(abs(layer_sum - untraced), OVERHEAD_SHARE * untraced)


if __name__ == "__main__":
    unittest.main(verbosity=2)
