"""Smoke test of the benchmark at a tiny input size.

    python -m pytest perfbench/test_smoke.py -q

For each workload it runs the benchmark untraced and traced at scale
0.001 and checks that every metric BENCHMARK.json names is printed with
its unit, that every op matched a non-empty oracle result, that each layer
reads zero where a workload bypasses it and above zero where it is
reached, and that within every traced op the self times of its spans add
up to no more than the op's wall time.
It also checks that the benchmark refuses to run without the repository's
package beside it. About four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SEED = 7
# layers a workload never reaches: their per-layer metrics must read zero
BYPASSED = {"tpch": ("datapipe.", "sources.", "streaming.")}
# per-layer metrics that must read above zero where the layer is reached
REACHED = {
    "lakehouse": (
        "datapipe.jobs", "datapipe.build_s", "datapipe.exec_s", "datapipe.text_stats_s",
        "sources.commits", "sources.create_table_s", "streaming.batches",
    ),
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, SPEC["command"][1]),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc) -> tuple[dict, dict]:
    """(result line, the run record printed before it)"""
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_end_to_end_and_traced(workload):
    res, info = _result(_run(ROOT, workload, 0))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(info["oracle_rows"]) == set(info["orders"][0])
    assert all(n > 0 for n in info["oracle_rows"].values()), info["oracle_rows"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    assert res["metrics"]["ops_ok_frac"]["value"] == 1.0

    res, _ = _result(_run(ROOT, workload, 1))
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    bypassed = BYPASSED.get(workload, ())
    assert bypassed == () or all(
        v["value"] == 0 for k, v in res["metrics"].items() if k.startswith(bypassed)
    )
    for name in REACHED.get(workload, ()):
        assert res["metrics"][name]["value"] > 0, name

    path = os.path.join(ROOT, ".bench_build", "perfbench", "spans",
                        f"{workload}-seed{SEED}.jsonl")
    with open(path) as fh:
        recs = [json.loads(line) for line in fh]
    by_op: dict[str, list] = {}
    for r in recs:
        sp = spans.Span(r["id"], r["parent"], r["op"], r["name"], r["start"])
        sp.end = r["end"]
        by_op.setdefault(r["op"], []).append(sp)
    assert by_op
    for op, sps in by_op.items():
        root = [s for s in sps if s.name == "op"]
        assert len(root) == 1, op
        wall = root[0].end - root[0].start
        total_self = sum(spans.self_times(sps).values())
        assert total_self <= wall + 1e-6, (op, total_self, wall)


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
