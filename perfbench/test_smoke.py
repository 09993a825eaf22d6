"""Smoke test of the benchmark itself, on a tiny corpus.

    python3 -m pytest perfbench/test_smoke.py -q      (from the repo root)

Checks that every workload prints every declared metric with its unit,
in both modes, that a corrupted expected answer is counted as a failure,
and that the benchmark refuses to run without the program beside it.
Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "7", "--seconds", "1", "--scale", "0.01"]


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def _names(section: str) -> dict:
    return {m["name"]: m["unit"] for m in BENCH[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_its_unit(workload, trace):
    out = _result(_run("--workload", workload, "--trace", str(trace), *TINY))
    assert out["correct"] and out["failed"] == 0
    want = _names("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_corrupted_expected_answer_is_counted():
    out = _result(_run("--workload", "serve_tier", "--trace", "0", "--corrupt-expected", *TINY))
    assert not out["correct"]
    assert out["failed"] > 0 and out["failed"] / out["attempted"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run("--workload", "serve_tier", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
