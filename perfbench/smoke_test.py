"""Tiny-input smoke test of the benchmark itself.

Runs every workload with ``--smoke`` (small inputs, one timed pass) with
tracing off and on, and checks the result line: every metric BENCHMARK.json
names is emitted with its unit, nothing failed (failed_frac = 0) and the
outputs were correct. Also checks that a directory holding only the
benchmark, without the program, gives a non-zero exit and no result.

    python3 perfbench/smoke_test.py          # from the repository root
    python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workloads() -> list[str]:
    return [w["name"] for w in _spec()["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = _spec()["command"] + ["--workload", workload, "--seed", "1", "--seconds", "2",
                                "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    return r.returncode, r.stdout.strip().splitlines()


def check_result(workload: str, trace: int) -> None:
    rc, lines = _run(workload, trace)
    assert rc == 0, f"{workload} trace={trace}: exit {rc}"
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] is True, f"{workload}: {lines[:-1]}"
    assert out["attempted"] >= 1 and out["failed"] == 0, out
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], float), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    assert any("failed_frac" in line and " 0.0000 " in line for line in lines), lines


def test_untraced():
    for w in _workloads():
        check_result(w, 0)


def test_traced():
    for w in _workloads():
        check_result(w, 1)


def test_fails_without_program():
    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines = _run(_workloads()[0], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0
    assert not lines or not lines[-1].startswith("{")


if __name__ == "__main__":
    for t in (test_fails_without_program, test_untraced, test_traced):
        t()
        print(f"ok {t.__name__}")
    sys.exit(0)
