#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny sizes, with the
same output checks, untraced and traced, plus the refusal to run
without the program's sources.

    python3 perfbench/test_smoke.py        # from the checkout root

Each workload takes well under a minute, so a broken workload shows
here before anyone spends a full set of runs on it.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = [sys.executable, "perfbench/run.py"]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                                 "--trace", str(trace), "--smoke"],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):

    def check(self, workload: str, trace: int) -> None:
        res = run(workload, trace)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        out = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"], res.stderr[-3000:])
        self.assertEqual(out["failed"], 0, res.stderr[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        names = {m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual(set(out["metrics"]), names)
        if not trace:
            for name, m in out["metrics"].items():
                self.assertGreater(m["value"], 0, name)

    def test_workloads(self) -> None:
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check(w["name"], trace)

    def test_refuses_without_program(self) -> None:
        scratch = ROOT / ".bench_build"
        scratch.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            for p in SPEC["paths"]:
                shutil.copytree(ROOT / p, Path(d) / p, ignore=shutil.ignore_patterns("__pycache__"))
            res = run(SPEC["workloads"][0]["name"], 0, cwd=Path(d))
            self.assertNotEqual(res.returncode, 0)
            self.assertEqual(res.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
