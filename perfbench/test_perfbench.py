"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests drive ``run.py --smoke`` (sf0.001 tables, two clips),
so they start real Spark processes and take a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(args, cwd=ROOT, timeout=300):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def _smoke(workload, trace, *extra, seconds=BENCH["run_seconds"]):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", str(seconds),
              "--trace", str(trace), "--smoke", *extra])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    # the op order is fixed (see run.WORKLOADS), so inputs are all a seed moves
    def tables(seed, name):
        d = str(tmp_path / name)
        inputs.shifted_tables("sf0.001", d, seed)
        return inputs.tree_digest(d)

    def clips(seed, name):
        d = str(tmp_path / name)
        expected = inputs.clip_tree(d, seed, 3, 20, 256)
        assert sum(expected.values()) == 20
        return inputs.tree_digest(d), expected

    assert tables(1, "a") == tables(1, "b")
    assert tables(1, "a") != tables(2, "c")
    assert clips(1, "d") == clips(1, "e")
    assert clips(1, "d") != clips(2, "f")


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace,group", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_once_with_unit(workload, trace, group):
    lines, result = _smoke(workload, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = {m["name"]: m["unit"] for m in BENCH[group]}
    assert set(result["metrics"]) == set(declared)
    for name, unit in declared.items():
        m = result["metrics"][name]
        assert m["unit"] == unit and math.isfinite(m["value"]), (name, m)
        printed = [line for line in lines[:-1] if line.split()[0] == name]
        assert len(printed) == 1 and printed[0].split()[2] == unit, (name, printed)
    if trace:
        import glob

        from tracing import LAYER_METRICS

        newest = max(glob.glob(os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-*.json")),
                     key=os.path.getmtime)
        with open(newest) as f:
            record = json.load(f)
        assert set(record["layers"]["metrics"]) == set(LAYER_METRICS)
        assert record["spans"] and "tracing_overhead_s" in record


@pytest.mark.parametrize("workload,op", [("registry_floor", "q1_pricing_summary"), ("media_pipeline", "renders")])
def test_injected_wrong_result_is_counted(workload, op):
    lines, result = _smoke(workload, 0, "--inject-wrong", op)
    assert not result["correct"] and result["failed"] == 1
    assert any(line.startswith(f"FAILED {op}:") for line in lines)
    assert any(line.startswith("failed_frac ") and float(line.split()[1]) > 0 for line in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_ops_the_time_guard_skips_are_failures(workload):
    # --seconds 0: the guard trips before the first timed query or pass starts
    lines, result = _smoke(workload, 0, seconds=0)
    assert not result["correct"] and result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert all("not started: time guard" in line for line in lines if line.startswith("FAILED "))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "registry_floor", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
