"""Smoke test of the benchmark itself, at minimal input size.

    python3 perfbench/smoke.py

Run from the root of a checkout. For every workload in BENCHMARK.json it
runs ``run.py --size tiny`` untraced and traced, and asserts that the
result line has exactly the agreed keys, that the correctness gate passed,
and that every end-to-end (untraced) or per-layer (traced) metric is
printed with its unit. It also checks that the benchmark refuses to run,
with a non-zero exit and no result, in a directory without the package.
Takes a few minutes; exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args: list[str], cwd: str) -> tuple[int, list[str]]:
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                          timeout=300)
    return proc.returncode, proc.stdout.strip().splitlines()


def check(workload: str, trace: int, spec: dict) -> None:
    code, lines = run(["--workload", workload, "--seed", "7", "--seconds", "2",
                       "--trace", str(trace), "--size", "tiny"], os.getcwd())
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(want), set(got) ^ set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])
    if not trace:
        zero = [n for n, m in got.items() if m["value"] == 0]
        assert not zero, f"end-to-end metrics read 0: {zero}"
    print(f"ok {workload} trace={trace}: {len(got)} metrics, {result['attempted']} operations")


def check_refuses_without_package(spec_path: str) -> None:
    empty = tempfile.mkdtemp(prefix="perfbench-smoke-", dir=os.getcwd())
    try:
        shutil.copy(spec_path, empty)
        shutil.copytree(HERE, os.path.join(empty, "perfbench"))
        code, lines = run(["--workload", "crawl_extract", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], empty)
        assert code != 0 and not lines, (code, lines)
    finally:
        shutil.rmtree(empty)
    print("ok refuses to run without the package")


def main() -> int:
    spec_path = os.path.join(os.getcwd(), "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    try:
        check_refuses_without_package(spec_path)
        for w in spec["workloads"]:
            for trace in (0, 1):
                check(w["name"], trace, spec)
    except AssertionError as e:
        print(f"FAIL {e}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
