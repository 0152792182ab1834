#!/usr/bin/env python3
"""Tests of the benchmark itself, on the tiny smoke dataset (sf 0.001).

    python3 perfbench/smoke_test.py            # all three workloads
    python3 perfbench/smoke_test.py write_mix  # one workload

From the repository root. For each workload it runs
- `--trace 0 --plant-fault`: every end-to-end metric of BENCHMARK.json is
  printed with its unit, and the planted wrong result is reported
  (correct false, failed >= 1);
- `--trace 1`: every per-layer metric is printed with its unit, and the
  run is correct with no failures.
It also checks that in a directory holding only BENCHMARK.json and the
benchmark's own files the command fails without printing a result.
Takes about six minutes on 4 cpus.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", *extra,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"], out
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def check_metrics(out: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = out["metrics"]
    assert sorted(got) == sorted(want), (sorted(got), sorted(want))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], (int, float)), (name, got[name])


def test_workload(workload: str) -> None:
    planted = result(run(ROOT, workload, "--smoke", "--trace", "0", "--plant-fault"))
    check_metrics(planted, "end_to_end")
    assert planted["failed"] >= 1 and planted["correct"] is False, planted
    for m in SPEC["end_to_end"]:
        assert planted["metrics"][m["name"]]["value"] > 0, m

    traced = result(run(ROOT, workload, "--smoke", "--trace", "1"))
    check_metrics(traced, "per_layer")
    assert traced["failed"] == 0 and traced["correct"] is True, traced


def test_fails_without_program() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_bare") as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, SPEC["workloads"][0]["name"], "--trace", "0")
        assert not os.path.exists(os.path.join(bare, ".perfbench_data")), "wrote data"
        assert p.returncode != 0, p.stdout
        assert "metrics" not in p.stdout, p.stdout


def main(argv: list[str]) -> int:
    names = argv or ["read_mix", "write_mix", "batch_analytics"]
    test_fails_without_program()
    print("ok  fails without the program")
    for w in names:
        test_workload(w)
        print(f"ok  {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
