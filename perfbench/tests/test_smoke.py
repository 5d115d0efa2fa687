"""Smoke check of the benchmark: every workload at the tiny ``smoke``
size through the real command line, one traced. About three minutes in
all on four cores (each run starts its own JVM).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[str, dict]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return "\n".join(lines[:-1]), json.loads(lines[-1])


def _check_result(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["pair_scoring"])
def test_workload_untraced(workload):
    report, result = _run(workload, 0)
    _check_result(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    assert "error_rate" in report


def test_traced_run_reports_layers_and_spans():
    report, result = _run("batch_er", 1)
    _check_result(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["functions.udfs.normalize_rows"] > 0
    assert m["operators.blocking.pairs_out"] >= m["pipeline.matches_out"] > 0
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.jobs"]
    assert m["trace.overhead"] > 0
    assert "operators.blocking.scored_candidate_pairs_s" in report
    assert "parent=" in report


def test_fails_without_the_package(tmp_path):
    """A directory holding only the benchmark exits non-zero, printing
    no result line."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_er", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
