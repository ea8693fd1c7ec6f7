#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's median,
quartiles and spread (Q3 - Q1 as a share of the median), next to the
bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --runs 10 [--sets 2] [--workloads region_read ...] [--first-seed 1]
    python3 perfbench/spread.py --trace --runs 1     # one traced run per workload

Run from the checkout root. With --sets 2 every workload gets a first set
of runs (seeds first-seed .. first-seed+runs-1), then a second set on the
next seeds, taken after the first set of every workload; the table adds
how far the second set's median is worse than the first's, as a share of
the first. Each run's result line is kept in .bench_build/results/runs.jsonl;
the summary is printed as markdown tables, the form the README's reference
figures are in.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, seed: int, trace: bool, set_no: int, log: Path) -> dict:
    t0 = time.monotonic()
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(SPEC["run_seconds"]), "--trace", str(int(trace))],
                         capture_output=True, text=True)
    if res.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    with log.open("a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "set": set_no, "trace": int(trace),
                            "run_wall_s": round(time.monotonic() - t0, 1), **out}) + "\n")
    return out


def worse(first: float, second: float, better: str) -> float:
    """How far `second` is worse than `first`, as a share of `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()

    log = ROOT / ".bench_build" / "results" / "runs.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    metrics = SPEC["per_layer" if a.trace else "end_to_end"]
    results = {}  # (workload, set) -> list of result lines
    try:
        for s in range(a.sets):
            for w in a.workloads:
                first = a.first_seed + s * a.runs
                results[(w, s)] = [run(w, seed, a.trace, s, log) for seed in range(first, first + a.runs)]
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1

    for w in a.workloads:
        sets = [results[(w, s)] for s in range(a.sets)]
        seeds = [f"{a.first_seed + s * a.runs}..{a.first_seed + (s + 1) * a.runs - 1}" for s in range(a.sets)]
        print(f"\n### {w} ({a.runs} runs per set, seeds {' then '.join(seeds)})\n")
        print("failed/attempted: " + " | ".join(", ".join(f"{o['failed']}/{o['attempted']}" for o in rs)
                                                 for rs in sets) + "\n")
        if a.runs < 2:
            print("| metric | unit | value |")
            print("|---|---|---|")
            for m in metrics:
                print(f"| {m['name']} | {m['unit']} | {sets[0][0]['metrics'][m['name']]['value']:.4g} |")
            continue
        head = "| metric | unit |" + "".join(f" median{s + 1} | Q1 | Q3 | spread{s + 1} |" for s in range(a.sets))
        head += " 2 worse than 1 | bound |" if a.sets == 2 else " bound |"
        print(head)
        print("|---" * (head.count("|") - 1) + "|")
        for m in metrics:
            row = f"| {m['name']} | {m['unit']} |"
            meds = []
            for rs in sets:
                q1, med, q3 = statistics.quantiles([o["metrics"][m["name"]]["value"] for o in rs], n=4)
                meds.append(med)
                row += f" {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} |"
            if a.sets == 2:
                row += f" {worse(meds[0], meds[1], m['better']):+.3f} |"
            print(row + f" {m.get('bound', '')} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
