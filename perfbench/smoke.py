"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

For every workload declared in ``BENCHMARK.json``: one untraced run on
two seeds and one traced run. Each must exit 0 with ``correct`` true and
no failure, and must print exactly the metrics ``BENCHMARK.json``
declares for its mode, with the declared units. Last, the benchmark run
from a directory holding only ``BENCHMARK.json`` and ``perfbench/`` must
fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, seed: int, trace: int) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "3", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else ""


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for seed, trace in ((1, 0), (2, 0), (1, 1)):
            rc, last = run(ROOT, w, seed, trace)
            tag = f"{w} seed={seed} trace={trace}"
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                problems.append(f"{tag}: exit {rc}, no JSON result")
                continue
            if rc != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: exit {rc}, {res['attempted']} attempted, {res['failed']} failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                diff = set(got.items()) ^ set(declared[trace].items())
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: {sorted(diff)}")
            print(f"ran {tag}: exit {rc}", flush=True)

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        rc, last = run(bare, bench["workloads"][0]["name"], 1, 0)
        if rc == 0 or last.startswith("{"):
            problems.append(f"bare directory: exit {rc}, printed {last[:80]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
