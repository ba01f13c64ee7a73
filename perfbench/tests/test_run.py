"""Tests for the result line of perfbench/run.py, on a synthetic raw record.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root (run.py reads BENCHMARK.json there).
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import types
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


def gate_raw(failed_runs):
    """A gates_heavy record: every check green, 7 rounds of 3 gates, the
    first `failed_runs` runs failed."""
    expected = json.load(open(os.path.join(run.HERE, "expected.json")))
    gates = list(run.WORKLOADS["gates_heavy"]["gates"])
    runs = [{"gate": gates[i % len(gates)], "ok": i >= failed_runs, "ms": 1000.0 + i,
             "error": None if i >= failed_runs else "boom"} for i in range(21)]
    return {
        "checks": [{"gate": g, "ok": True, "digest": expected[g]["digest"],
                    "rows": expected[g]["rows"]} for g in gates],
        "runs": runs,
        "rounds": [{"start": 0.0, "end": 3000.0 + r} for r in range(7)],
        "session_build_s": [7.0, 0.4, 0.5], "stage_s": 0.0, "warm_s": 3.0,
        "env": {"cpus": 4, "java": "17", "spark": "4", "steal_ticks": [0, 1],
                "calib_s": [0.2, 0.2]},
    }


@unittest.skipUnless(run.BENCH, "run from the repository root")
class ResultLine(unittest.TestCase):
    def report(self, raw):
        a = types.SimpleNamespace(workload="gates_heavy", seed=1, trace=0)
        out, code = io.StringIO(), 0
        with tempfile.TemporaryDirectory() as build_dir, \
                contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            try:
                run.report(a, run.WORKLOADS["gates_heavy"], raw, [], "x", build_dir)
            except SystemExit as e:
                code = e.code
        return json.loads(out.getvalue().splitlines()[-1]), code

    def test_clean_run(self):
        line, code = self.report(gate_raw(0))
        self.assertEqual(code, 0)
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]), {m["name"] for m in run.BENCH["end_to_end"]})

    def test_failed_run_still_prints_the_result_line(self):
        # 2 of 21 runs fail: 19 samples are too few for a p50, so op_p50_ms
        # is left out, and the command exits non-zero.
        line, code = self.report(gate_raw(2))
        self.assertEqual(code, 1)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 2)
        self.assertNotIn("op_p50_ms", line["metrics"])
        self.assertIn("wall_s", line["metrics"])


if __name__ == "__main__":
    unittest.main()
