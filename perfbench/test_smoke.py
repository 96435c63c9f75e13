"""Smoke test of the benchmark itself (not part of the repository's
test suite; run by hand, about five minutes on 4 cores):

    python -m pytest perfbench/test_smoke.py -q

At sf0.001, one operation of each workload, untraced and traced: every
end-to-end and per-layer metric named in BENCHMARK.json is present
with its unit, the outputs check out, and a traced record carries a
plan fingerprint per query and per ELT table.  Also: without the
program next to it, the benchmark fails fast and prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(workload: str, trace: int, records: str, cwd: str = REPO, **extra):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "3",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
           "--records", records]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["floor_queries", "elt_batches", "heavy_queries"])
def test_end_to_end_metrics(workload, tmp_path):
    res = _result(_run(workload, 0, str(tmp_path), limit=1))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["floor_queries", "elt_batches"])
def test_per_layer_metrics_and_record(workload, tmp_path):
    res = _result(_run(workload, 1, str(tmp_path), limit=1))
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark_exec.jobs"] > 0 and m["trace.wall_ms"] > 0
    with open(tmp_path / f"{workload}-seed3.json") as f:
        ops = json.load(f)["record"]["ops"]
    if workload == "elt_batches":
        assert m["scd2.rows_inserted"] > 0 and m["sources.rows_written"] > 0
        tables = next(iter(ops.values()))["tables"]
        assert len(tables) == 12
        assert all(t["plan_fingerprint"] for t in tables.values())
    else:
        assert m["entry_queries.py4j_calls"] > 0
        assert all(op["plan_fingerprint"] for op in ops.values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(REPO, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".work", "records", "__pycache__"))
    proc = _run("floor_queries", 0, str(tmp_path / "rec"), cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
