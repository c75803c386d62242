"""Smoke test of the benchmark at the smallest input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once per mode with ``--size smoke`` and checks the
contract of the printed result: the metric names and units BENCHMARK.json
declares, every op correct, and ``failed_share`` 0. Takes a few minutes
(each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the end-to-end metrics BENCHMARK.json gates, and the ones only printed:
# failed_share is 0 on every correct run, op_s_tail needs 20 warm ops, and
# the wall-time metrics and peak_rss_mb spread between runs on a shared
# 4-core box by more than the largest bound allows
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
PRINTED_ONLY = {"cold_op_s": "s", "op_s_p50": "s", "ops_per_min": "1/min",
                "peak_rss_mb": "MB", "failed_share": "ratio"}


def config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def test_declared_end_to_end_metrics_are_pinned():
    declared = {m["name"]: m["unit"] for m in config()["end_to_end"]}
    assert declared == END_TO_END


@pytest.mark.parametrize("workload", ["weekly_dag", "corpus_prep"])
@pytest.mark.parametrize("trace", [0, 1])
def test_result_line(workload, trace):
    cfg = config()
    result, lines = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 2
    declared = cfg["per_layer"] if trace else cfg["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    printed = {}
    for line in lines:
        kind, _, rest = line.partition(" ")
        if kind in ("end_to_end", "per_layer"):
            name, rest = rest.split(" = ")
            value, unit = rest.split(" ")
            printed[name] = (float(value), unit)
    for name, unit in {**END_TO_END, **PRINTED_ONLY}.items():
        assert printed[name][1] == unit, name
    assert printed["failed_share"][0] == 0.0
    if "op_s_tail" in printed:
        assert printed["op_s_tail"][1] == "s"
    else:
        assert any(line.startswith("op_s_tail omitted") for line in lines)
    if trace:
        for m in cfg["per_layer"]:
            assert printed[m["name"]][1] == m["unit"], m["name"]
