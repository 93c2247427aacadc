"""Self-tests of the benchmark: smoke-sized runs print every metric named in
BENCHMARK.json with its unit, a wrong expected result is reported, and a
directory without the engine fails without a result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("etl_nightly", "dashboard_mix")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_untraced_prints_every_end_to_end_metric(workload):
    code, lines = run("--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--smoke")
    assert code == 0
    out = result(lines)
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    for name in want:  # human-readable line with unit and sample count
        assert any(line.startswith(f"{name} = ") and "samples:" in line for line in lines)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_prints_every_per_layer_metric(workload):
    code, lines = run("--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "1", "--smoke")
    assert code == 0
    out = result(lines)
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_result_is_reported(workload):
    code, lines = run("--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--smoke", "--expect-wrong")
    assert code == 0
    out = result(lines)
    assert not out["correct"] and out["failed"] > 0
    assert json.loads(lines[0])["error_rate"] > 0


def test_bare_directory_exits_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run("--workload", "etl_nightly", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, ma = gen.etl_inputs(str(tmp_path / "a"), 5, 0.001)
    b, mb = gen.etl_inputs(str(tmp_path / "b"), 5, 0.001)
    c, mc = gen.etl_inputs(str(tmp_path / "c"), 6, 0.001)
    with open(f"{a}/sales.csv", "rb") as fa, open(f"{b}/sales.csv", "rb") as fb:
        assert fa.read() == fb.read()
    assert ma == mb and ma["injected"] != mc["injected"]
    assert ma["injected"]["duplicate_rows"] > 0


def test_zipf_schedule_is_skewed_seeded_and_steady():
    names = list(workloads.DASHBOARD_QUERIES)
    s1 = workloads.zipf_schedule(names, seed=1, blocks=4)
    s2 = workloads.zipf_schedule(names, seed=2, blocks=4)
    assert s1 == workloads.zipf_schedule(names, seed=1, blocks=4)
    assert s1 != s2
    block = workloads.BLOCK
    for s in (s1, s2):  # every block holds the same exact Zipf shares
        counts = [sorted(s[i:i + block].count(n) for n in names) for i in range(0, len(s), block)]
        assert all(c == counts[0] for c in counts)
    assert s1.count(names[0]) > s1.count(names[-1]) > 0
