"""Self-test of the benchmark: both workloads, briefly, at sf0.001.

    python3 -m pytest perfbench/ -q

Each run must print every metric BENCHMARK.json names, with its unit,
pass its correctness checks with no failed operation, and (traced) give
identical Spark job/stage/task counts for the same seed. Without the
package next to it, the benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# the shortest run; each workload still measures every op class
SECONDS = 1


def bench(workload: str, trace: int, cwd: Path = ROOT, seed: int = 1):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS),
           "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def detail(workload: str, trace: int, seed: int = 1) -> dict:
    path = ROOT / ".perfbench_results" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(path.read_text())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_with_unit_and_checks(workload, trace):
    proc = bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    checks = detail(workload, trace)["checks"]
    shapes = {k.split("/")[0] for k in checks}
    assert {"rollup", "funnel", "sql", "raw"} <= shapes, checks
    assert all(c["ok"] for c in checks.values()), checks
    if trace:
        layers = result["metrics"]
        assert layers["mv.sql_rewrite.rewrite_ratio.sql"]["value"] == 1.0
        assert layers["mv.sql_rewrite.rewrite_ratio.raw"]["value"] == 0.0


def test_traced_counts_repeat_for_a_seed():
    runs = []
    for _ in range(2):
        assert bench("live", 1, seed=2).returncode == 0
        runs.append(detail("live", 1, seed=2)["per_layer"])
    first, second = runs
    counted = [k for k in first if k.rsplit(".", 1)[-1] in ("jobs", "stages", "tasks")]
    counted += ["tables.files_read", "maintenance.partitions_dropped",
                "mv.engine.compaction_ratio"]
    assert {k: first[k] for k in counted} == {k: second[k] for k in counted}


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("dashboard", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
