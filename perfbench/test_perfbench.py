"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench -q

Each workload runs in a subprocess, as the benchmark command does.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from functools import cache

import numpy as np
import pytest

from perfbench import checks
from perfbench.harness import REPO_ROOT, Recorder

SPEC = json.loads((REPO_ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
RUN = [sys.executable, str(REPO_ROOT / "perfbench" / "run.py")]


@cache
def bench(workload: str, trace: int, seed: int = 3, attempt: int = 0) -> dict:
    """Last stdout line of one tiny run; ``attempt`` forces a fresh run."""
    out = subprocess.run(
        RUN
        + ["--workload", workload, "--seed", str(seed), "--seconds", "1"]
        + ["--trace", str(trace), "--size", "tiny"],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_unit(workload, trace):
    result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert np.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]


COUNT_PREFIXES = ("spark.", "etl.vertices", "etl.edges", "blocks.count", "pagerank.supersteps")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_reproduces_counts(workload):
    a = bench(workload, 1)["metrics"]
    b = bench(workload, 1, attempt=1)["metrics"]
    counts = [k for k in a if k.startswith(COUNT_PREFIXES) or k == "ops.ndcg20_min"]
    assert counts
    assert {k: a[k]["value"] for k in counts} == {k: b[k]["value"] for k in counts}


def test_corrupted_result_counts_as_failure():
    gold = np.full(10, 0.1)
    rec = Recorder()
    rec.run_op("pagerank", lambda: gold.copy(), lambda r: checks.allclose(r, gold, "pr"))
    bad = gold.copy()
    bad[3] += 1e-5
    rec.run_op("pagerank", lambda: bad, lambda r: checks.allclose(r, gold, "pr"))
    assert (rec.attempted, rec.failed) == (2, 1)
    assert "max abs error" in rec.ops[1].info["check_failed"]


def test_raising_op_counts_as_failure():
    rec = Recorder()

    def boom():
        raise RuntimeError("executor lost")

    record, result = rec.run_op("cc", boom)
    assert result is None and not record.ok and rec.failed == 1


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: r.__setitem__((0, 1), -r[0, 1]),  # negative rank
        lambda r: r.__setitem__((1, 0), np.nan),  # non-finite
        lambda r: r.__setitem__((1, 0), r[1, 0] + 1e-3),  # mass not conserved
    ],
)
def test_ppr_invariants_reject_corruption(corrupt):
    ranks = np.full((2, 4), 0.25)
    checks.ppr_invariants(ranks, 2, 4)
    corrupt(ranks)
    with pytest.raises(checks.Mismatch):
        checks.ppr_invariants(ranks, 2, 4)


def test_resume_gate_sees_last_bit():
    class Res:
        def __init__(self, ranks, iterations=13):
            self.ranks_np, self.iterations = ranks, iterations

    r = np.random.default_rng(0).random((1, 100))
    checks.bit_identical(Res(r), Res(r.copy()), "same")
    flipped = r.copy()
    flipped[0, 7] = np.nextafter(flipped[0, 7], 2.0)
    with pytest.raises(checks.Mismatch):
        checks.bit_identical(Res(flipped), Res(r), "last bit")
    with pytest.raises(checks.Mismatch):
        checks.bit_identical(Res(r, 14), Res(r), "iterations")


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark files: exit non-zero, no result."""
    shutil.copy(REPO_ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO_ROOT / "perfbench", tmp_path / "perfbench")
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1"]
        + ["--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
