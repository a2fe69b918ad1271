"""Smoke test of the benchmark at a quarter of its fixture size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs the command end to end (each run starts its own local Spark
session, about a minute each) and checks its output contract: every
metric BENCHMARK.json names is printed with its unit, and an injected
operation failure is counted while the rest of the report still prints.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*extra: str) -> tuple[int, list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
         "--scale", "0.25", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-2000:]
    return p.returncode, lines, json.loads(lines[-1])


def _check_metrics(lines: list[str], result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)
        assert any(l.startswith(f"metric {m['name']} = ") and l.endswith(f" {m['unit']}")
                   for l in lines), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_printed(workload):
    code, lines, res = _run("--workload", workload, "--trace", "0")
    assert code == 0 and res["correct"], "\n".join(lines[-30:])
    assert res["failed"] == 0 and res["attempted"] >= 1
    _check_metrics(lines, res, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_layers_and_spans(workload):
    code, lines, res = _run("--workload", workload, "--trace", "1")
    assert code == 0 and res["correct"], "\n".join(lines[-30:])
    _check_metrics(lines, res, SPEC["per_layer"])
    spans = [l for l in lines if l.startswith("spans: ")]
    assert spans and (ROOT / spans[0].split(" written to ")[1]).is_file()
    assert any(l.startswith("trace.bookkeeping_s") for l in lines)
    if workload == "stream_merge":
        assert any(l.startswith("gates: ") and "reapply_appends_nothing=ok" in l
                   for l in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_injected_failure_is_counted(workload):
    code, lines, res = _run("--workload", workload, "--trace", "0", "--inject-failure")
    assert code == 1 and not res["correct"]
    assert res["failed"] >= 1 and res["attempted"] > res["failed"]
    share = [l for l in lines if l.startswith("failed_op_share = ")]
    assert share and float(share[0].rsplit("= ", 1)[1]) > 0
    _check_metrics(lines, res, SPEC["end_to_end"])
