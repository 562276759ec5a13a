"""Smoke tests of the benchmark: every workload at the tiny ``smoke``
size, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must print every metric with its unit and pass its correctness
checks, and in the traced run each operation's spans must reconcile
with the operation's wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from tracing import covered  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_result(res: dict, expected: list[tuple[str, str]]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(expected)
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced(workload):
    res = bench(workload, 0)
    check_result(res, END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_spans_reconcile(workload, tmp_path):
    out = tmp_path / "spans.json"
    check_result(bench(workload, 1, "--trace-out", str(out)), PER_LAYER)
    spans = {s["id"]: s for s in json.loads(out.read_text())}
    ops = [s for s in spans.values() if s["name"] == "op"]
    assert ops
    for s in spans.values():
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], s
            assert s["op"] == parent["op"]
    for op in ops:
        duration = op["end"] - op["start"]
        # the op span is the timed region, less the two clock reads
        assert abs(duration - op["wall"]) <= 0.01 * op["wall"] + 0.005
        children = [s for s in spans.values() if s["parent"] == op["id"]]
        self_time = duration - covered(children)
        # the layer spans cover the op; its self time is the benchmark's glue
        assert 0 <= self_time <= 0.2 * duration, (op, self_time)
