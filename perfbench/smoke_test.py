"""Smoke test of the benchmark itself, at tiny input sizes.

Runs every workload once untraced and once traced with ``--tiny``
(sf0.001 tables, two short EDF nights, one corpus build) and checks the
result line against ``BENCHMARK.json``: every named metric is present
with its unit, outputs are correct and no op failed.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("edf_ingest", "mart_queries", "corpus_build")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record_line, result_line = out.stdout.strip().splitlines()
    return json.loads(record_line), json.loads(result_line)


def check(workload: str, trace: int) -> None:
    spec = _spec()
    record, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True, record.get("setup_error")
    assert result["failed"] == 0 and result["attempted"] >= 1, result
    assert record["fail_ratio"] == 0.0, record
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}, set(result["metrics"]) ^ {
        m["name"] for m in wanted
    }
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), got
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    if trace:
        assert record["jobs"]["attributed_jobs"] > 0, record["jobs"]


def test_edf_ingest():
    check("edf_ingest", 0)
    check("edf_ingest", 1)


def test_mart_queries():
    check("mart_queries", 0)
    check("mart_queries", 1)


def test_corpus_build():
    check("corpus_build", 0)
    check("corpus_build", 1)


if __name__ == "__main__":
    for w in WORKLOADS:
        for t in (0, 1):
            check(w, t)
            print(f"ok {w} trace={t}", flush=True)
