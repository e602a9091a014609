"""Smoke tests of the benchmark: tiny inputs, the same code paths.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, WORKLOAD_NAMES  # noqa: E402


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )


def test_benchmark_json_matches_the_program():
    from workloads import PER_LAYER

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(m, u) for m, u, _ in PER_LAYER]


def test_smoke_all_workloads_untraced_and_traced():
    from workloads import PER_LAYER

    p = _run(ROOT, "--workload", "all", "--seed", "1", "--seconds", "0", "--trace", "1", "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    for name in WORKLOAD_NAMES:
        res = out[name]
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        names = set(res["metrics"])
        assert {m for m, _ in END_TO_END} <= names
        assert {m for m, _, _ in PER_LAYER} <= names
        for m, _ in END_TO_END:
            assert res["metrics"][m]["value"] > 0, m
        assert (ROOT / ".perfbench" / "traces" / f"{name}-seed1.json").exists()


def test_fails_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", WORKLOAD_NAMES[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "{" not in p.stdout
