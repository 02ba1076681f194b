"""Smoke test of the benchmark itself: a tiny-input run of each workload
prints every metric of ``BENCHMARK.json`` by name with its unit and runs
its output checks, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import functools
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int, repeat: int = 0) -> tuple[list[str], dict]:
    """``repeat`` only tells apart runs that must not share the cache."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _assert_printed(lines: list[str], result: dict, metrics: list[dict]) -> None:
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        pattern = rf"^{re.escape(m['name'])} = \S+ {re.escape(m['unit'])}\b"
        assert any(re.match(pattern, ln) for ln in lines), m["name"]
    checks = [ln for ln in lines if ln.startswith("output checks run = ")]
    assert checks and checks[0] == (
        f"output checks run = {result['attempted']}, failed = 0"
    )


def test_spec_matches_benchmark_tables():
    from run import LAYER_TARGETS, WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == list(LAYER_TARGETS)
    assert {m["name"] for m in SPEC["end_to_end"]} == {
        "setup_s", "docs_per_s", "batch_ms_p50", "stored_bytes_per_input_byte",
        "peak_rss_mb",
    }


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_and_checked(workload):
    lines, result = _run(workload, 0)
    _assert_printed(lines, result, SPEC["end_to_end"])


def _checksum(lines: list[str]) -> str:
    return next(ln for ln in lines if ln.startswith("gold_checksum = ")).split(" = ")[1]


def test_gold_checksum_is_the_same_across_runs_of_one_seed():
    first, _ = _run("gated_batch", 0)
    second, _ = _run("gated_batch", 0, repeat=1)
    assert _checksum(first) == _checksum(second)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    lines, result = _run(workload, 1)
    _assert_printed(lines, result, SPEC["per_layer"])
    spans = next(json.loads(ln)["spans"] for ln in lines if ln.startswith('{"spans"'))
    names = {s["name"] for s in spans}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["expectations.jobs.source"] >= 1
    assert m["spark.jobs"] >= 1
    if workload == "gated_batch":
        assert {"runner.run_pipeline", "tables.write_snapshot", "stages.featurize",
                "stages.dedup", "expectations.run_suite", "report.write_run_report"} <= names
        assert m["tables.files_written.gold"] >= 1
        # the traced pass is checked like the others; its gold matches the twin's
        assert _checksum(lines)
    elif workload == "regate_resume":
        assert {"runner.run_pipeline", "expectations.run_suite"} <= names
        assert "stages.featurize" not in names
        assert m["runner.self_s"] > 0
        assert m["checkpoint.files_appended"] >= 1
    else:
        assert {"streaming.gated_ingest", "expectations.run_suite"} <= names
        assert m["streaming.batches"] >= 1
        assert m["streaming.quarantine_fraction"] > 0
        assert m["checkpoint.files_appended"] >= 1
