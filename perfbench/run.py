#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload pyramid_write --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program and the harness on
first use (see build.py), then runs the workload in one JVM on
local[<cores>] with a fixed heap. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 1
the metrics are the per-layer ones, and the traced run's full record
(per-layer metrics, its own end-to-end metrics and their overhead over
the last untraced run) is written to .bench_build/results/.

--smoke runs the workload at tiny sizes with the same checks.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pyramid_write", "region_read", "text_dedup")
# A fixed maximum heap, but only a small part of it committed up front,
# and fixed generation sizes (no adaptive sizing): the old generation
# grows only as far as what the run keeps alive, so peak resident memory
# follows the program's allocations without depending on GC timing.
HEAP_FLAGS = ["-Xmx2g", "-Xms1g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
# a run must end well inside 180 s, set-up and output checks included
JVM_TIMEOUT_S = 170
# what Spark on JDK 17 needs when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def validate(result: dict, trace: int) -> None:
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys:
        raise ValueError(f"result keys {sorted(result)} != {sorted(keys)}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, units {[k for k in want if got.get(k) != want[k]]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    root = Path.cwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    top = root / build.BUILD_DIR
    work = top / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [build.java(), *HEAP_FLAGS,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--work", str(work), "--results", str(top / "results")]
    if a.smoke:
        cmd.append("--smoke")

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"workload exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"workload JVM exited {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
        validate(result, a.trace)
    except ValueError as e:
        sys.stderr.write(out)
        print(f"bad result line: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
