"""Fast self-test of the benchmark harness at tiny sizes.

    python3 -m pytest perfbench/tests -q

Each case launches perfbench/run.py the way the benchmark is run, with
``--tiny`` inputs, and checks the result line's shape, that every named
metric is emitted, and that a wrong expected digest is counted as a
failed operation.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(workload: str, trace: int, *extra: str, cwd: Path = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _parse(res):
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_emitted(workload):
    detail, result = _parse(_run(workload, 1))
    assert set(result) == RESULT_KEYS
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert all(m["unit"] == units[k] for k, m in result["metrics"].items())
    e2e = detail["end_to_end"]
    assert set(e2e) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    assert 0.9 <= result["metrics"]["trace.self_time_share"]["value"] <= 1.1


def test_corrupted_expected_digest_counts_as_failure(tmp_path):
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    expected["tiny"]["jaccard_doc_t95"]["digest"] = "0" * 16 + "-0"
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    res = _run("joins", 0, "--expected", str(path))
    _, result = _parse(res)
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert result["failed"] == 1 and not result["correct"]
    assert result["metrics"]["ok_rate"]["value"] == pytest.approx(
        1 - 1 / result["attempted"])
    assert "CHECK FAILED jaccard_doc_t95" in res.stderr


def test_fails_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run([sys.executable, *BENCH["command"][1:], "--workload", "transcripts",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
