"""Smoke test of the benchmark at its smallest size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs ``run.py`` from the command line on tiny inputs and checks its
output format: every named metric with its unit, a clean
run scores ``error_rate`` 0, and a planted wrong KV value raises it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH_DIR))

from run import END_TO_END, PER_LAYER  # noqa: E402


def _run(workload: str, *extra: str, trace: int = 0) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05", *extra],
        cwd=BENCH_DIR.parent,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, summary, result = proc.stdout.strip().splitlines()
    return json.loads(summary), json.loads(result)


def _assert_contract(result: dict, names: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], float)


@pytest.mark.parametrize("workload", ["ecom_arrivals", "corpus_arrivals"])
def test_end_to_end_metrics_and_clean_run(workload):
    summary, result = _run(workload)
    _assert_contract(result, END_TO_END)
    assert result["correct"] and result["failed"] == 0
    assert summary["error_rate"] == {"value": 0.0, "unit": "ratio"}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_reports_every_layer():
    _, result = _run("ecom_arrivals", trace=1)
    _assert_contract(result, PER_LAYER)
    layers = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("sinks.kv.upsert_s", "sinks.kv.rows_written", "spark.jobs", "streaming.progress.addBatch_ms"):
        assert layers[name] > 0, name


def test_planted_wrong_kv_value_raises_error_rate():
    summary, result = _run("ecom_arrivals", "--plant-wrong-kv")
    assert not result["correct"]
    assert result["failed"] == 1
    assert summary["error_rate"]["value"] == pytest.approx(1 / result["attempted"])
