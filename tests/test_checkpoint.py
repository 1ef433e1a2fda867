"""Checkpoint/resume: a killed run resumes mid-computation and converges
to the same result as an uninterrupted run."""

import io
import json
import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from approximate_pagerank_public_spark.operators.pagerank import (
    _run_broadcast,
    multi_ppr,
    pagerank,
)
from approximate_pagerank_public_spark.plans.checkpoint import CheckpointManager


def test_resume_matches_uninterrupted(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck")
    full = pagerank(g_rand, mode="broadcast")

    # phase 1: "killed" after 5 iterations (checkpointing every superstep)
    part = pagerank(g_rand, mode="broadcast", max_iter=5, tol=0.0, checkpoint_dir=ckpt)
    assert part.iterations == 5
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 5
    assert len(manifest["iterations"]) == 5
    # per-partition lineage recorded
    lineage = manifest["lineage"]["5"]
    assert sum(p["rows"] for p in lineage) == g_rand.num_vertices

    # phase 2: resume from the checkpoint and run to convergence
    res = pagerank(g_rand, mode="broadcast", checkpoint_dir=ckpt, resume=True)
    assert res.converged
    assert res.metrics[0]["iter"] == 1 and res.metrics[-1]["iter"] == res.iterations
    assert res.iterations == full.iterations
    assert np.allclose(res.ranks_np, full.ranks_np, atol=1e-12)


def test_resume_multi_ppr(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck8")
    sources = [0, 17, 42, 99]
    full = multi_ppr(g_rand, sources)
    multi_ppr(g_rand, sources, max_iter=3, tol=0.0, checkpoint_dir=ckpt, checkpoint_every=1)
    res = multi_ppr(g_rand, sources, checkpoint_dir=ckpt, resume=True)
    assert np.allclose(res.ranks_np, full.ranks_np, atol=1e-12)


def test_distributed_multi_resume(g5, tmp_path):
    """The distributed-arrow path checkpoints via save_df/load_latest_df —
    a killed multi-source run resumes mid-computation and matches the
    uninterrupted run."""
    ckpt = str(tmp_path / "ckdm")
    sources = [0, 2, 4]
    full = multi_ppr(g5, sources, mode="distributed-arrow", max_iter=8, tol=0.0)
    multi_ppr(
        g5, sources, mode="distributed-arrow", max_iter=3, tol=0.0, checkpoint_dir=ckpt
    )
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 3 and manifest["mode"] == "dataframe"
    res = multi_ppr(
        g5, sources, mode="distributed-arrow", max_iter=8, tol=0.0,
        checkpoint_dir=ckpt, resume=True,
    )
    assert res.metrics[0]["iter"] == 1 and res.metrics[-1]["iter"] == 8
    a = full.ranks().toPandas().sort_values("id")
    b = res.ranks().toPandas().sort_values("id")
    for i in range(len(sources)):
        assert np.allclose(
            a[f"rank_{i}"].to_numpy(), b[f"rank_{i}"].to_numpy(), atol=1e-12
        )


def test_checkpoint_every_k(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck2")
    pagerank(g_rand, mode="broadcast", max_iter=5, tol=0.0, checkpoint_dir=ckpt, checkpoint_every=2)
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 4  # iterations 2 and 4 saved


@pytest.mark.parametrize("mode", ["broadcast", "distributed-arrow"])
def test_resume_refuses_other_query_or_path(g5, tmp_path, mode):
    """A checkpoint dir resumes only the query and path that saved it:
    another mode, alpha, source set or dangling flag raises ValueError
    naming the dir and the key; tol and max_iter stay free to change."""
    ckpt = str(tmp_path / "ck")
    other = "distributed-arrow" if mode == "broadcast" else "broadcast"
    sources = [0, 2, 4]
    multi_ppr(g5, sources, mode=mode, max_iter=2, checkpoint_dir=ckpt)
    for key, kw in [
        ("mode", dict(mode=other)),
        ("alpha", dict(alpha=0.85)),
        ("sources", dict(sources=[1, 3, 4])),
        ("dangling_norm", dict(dangling_norm=False)),
    ]:
        call = {"sources": sources, "mode": mode, "max_iter": 4, "checkpoint_dir": ckpt, **kw}
        with pytest.raises(ValueError, match=re.escape(ckpt) + f".*{key}="):
            multi_ppr(g5, **call)
    res = multi_ppr(g5, sources, mode=mode, max_iter=4, tol=0.0, checkpoint_dir=ckpt)
    assert res.iterations == 4 and [m["iter"] for m in res.metrics] == [1, 2, 3, 4]
    # resume=False starts over, and the dir then belongs to the new run
    multi_ppr(g5, sources, mode=other, max_iter=2, checkpoint_dir=ckpt, resume=False)
    res = multi_ppr(g5, sources, mode=other, max_iter=3, tol=0.0, checkpoint_dir=ckpt)
    assert res.iterations == 3 and res.metrics[0]["iter"] == 1


def test_checkpoint_parity_barrier_vs_per_superstep(g_rand, tmp_path, monkeypatch):
    """Checkpointed runs agree bit-for-bit whether the supersteps run in
    one barrier gang (default) or one Spark job each (fallback), and both
    resume to the same converged state."""
    ck_b = str(tmp_path / "ckb")
    ck_c = str(tmp_path / "ckc")
    pagerank(g_rand, mode="broadcast", max_iter=4, tol=0.0, checkpoint_dir=ck_b)
    res_b = pagerank(g_rand, mode="broadcast", checkpoint_dir=ck_b, resume=True)
    monkeypatch.setenv("SPARK_GRAFT_BARRIER", "0")
    pagerank(g_rand, mode="broadcast", max_iter=4, tol=0.0, checkpoint_dir=ck_c)
    res_c = pagerank(g_rand, mode="broadcast", checkpoint_dir=ck_c, resume=True)
    assert res_b.iterations == res_c.iterations
    assert res_b.converged and res_c.converged
    assert np.array_equal(res_b.ranks_np, res_c.ranks_np)


def _count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)`` via a job group."""
    sc = spark.sparkContext
    group = f"ckpt-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("every", [1, 3])
@pytest.mark.parametrize("num_sources", [1, 4])
def test_barrier_checkpoint_one_job_bit_identical_resume(g_rand, tmp_path, every, num_sources):
    """A checkpointed broadcast-path run is ONE Spark job (the gang saves
    in-task), saves exactly the multiples of ``every``, and an
    interrupted run resumes to the uninterrupted result bit for bit."""
    n = g_rand.num_vertices
    sources = [0, 17, 42, 99]

    def run(d, **kw):
        kw.update(mode="broadcast", checkpoint_dir=str(d), checkpoint_every=every)
        if num_sources == 1:
            return pagerank(g_rand, **kw)
        return multi_ppr(g_rand, sources, **kw)

    run(tmp_path / "warm", max_iter=1)  # blocks + dangling mask built outside the count
    full, jobs = _count_jobs(g_rand.spark, lambda: run(tmp_path / "full"))
    assert jobs == 1 and full.converged
    assert full.phase_timings["ckpt"][1] > 0
    manifest = json.load(open(tmp_path / "full" / "manifest.json"))
    assert manifest["latest"] == full.iterations // every * every
    saved = sorted((tmp_path / "full").glob("iter_*.parquet"))
    assert [p.name for p in saved] == [
        f"iter_{k:05d}.parquet" for k in range(every, full.iterations + 1, every)
    ]
    for p in saved:
        table = pq.read_table(p)
        assert table.num_rows == n and table.column_names[1:] == [
            f"c{i}" for i in range(num_sources)
        ]

    cut, jobs = _count_jobs(g_rand.spark, lambda: run(tmp_path / "cut", max_iter=5))
    assert jobs == 1 and cut.iterations == 5
    res, jobs = _count_jobs(g_rand.spark, lambda: run(tmp_path / "cut"))
    assert jobs == 1
    assert res.iterations == full.iterations and res.converged
    assert res.metrics[0]["iter"] == 1 and len(res.metrics) == res.iterations
    assert np.array_equal(res.ranks_np, full.ranks_np)


def test_barrier_fault_after_in_gang_save_falls_back(g_rand, tmp_path):
    """A gang that dies after its first in-gang save falls back loudly to
    the per-superstep path: same bits as a clean run, the manifest points
    at a complete file, and the gang's scratch is gone."""
    clean = _run_broadcast(g_rand, 0.8, 1e-6, 100, None, str(tmp_path / "clean"), 2, True)
    assert clean.phase_timings is not None
    ck = tmp_path / "fault"
    manifest = str(ck / "manifest.json")

    def fail_in_gang_after_save(x):
        from pyspark import TaskContext

        if TaskContext.get() is not None and os.path.exists(manifest):
            raise RuntimeError("injected fault after the first in-gang save")
        return x

    with pytest.warns(RuntimeWarning, match="barrier fast path failed"):
        res = _run_broadcast(
            g_rand, 0.8, 1e-6, 100, None, str(ck), 2, True,
            post_superstep=fail_in_gang_after_save,
        )
    assert res.phase_timings is None  # the per-superstep path produced it
    assert res.iterations == clean.iterations
    assert np.array_equal(res.ranks_np, clean.ranks_np)
    it, rank, _ = CheckpointManager(str(ck)).load_latest()
    it_c, rank_c, _ = CheckpointManager(str(tmp_path / "clean")).load_latest()
    assert it == it_c == clean.iterations // 2 * 2
    assert np.array_equal(rank, rank_c)
    assert not [d for d in os.listdir(g_rand.blocks.dir) if d.startswith("barrier_")]


def test_load_latest_rejects_damaged_checkpoint(tmp_path):
    """``load_latest`` ignores stray temp files and fails loudly, naming
    the file, on a checkpoint that disagrees with its manifest."""
    ck = CheckpointManager(str(tmp_path))
    n = 50
    rank = np.random.default_rng(0).random((2, n))
    ck.save(4, rank, [{"iter": 4}])
    (tmp_path / ".iter_00005.parquet.tmp").write_bytes(b"killed mid-save")
    it, got, hist = ck.load_latest()
    assert it == 4 and np.array_equal(got, rank) and hist == [{"iter": 4}]

    path = tmp_path / "iter_00004.parquet"
    good = path.read_bytes()
    table = pq.read_table(io.BytesIO(good))
    dup_ids = table.column("id").to_numpy().copy()
    dup_ids[-1] = 0
    damaged = {
        "unreadable": lambda: path.write_bytes(good[: len(good) // 2]),
        "rows": lambda: pq.write_table(table.slice(0, n - 1), path),
        "ids": lambda: pq.write_table(table.set_column(0, "id", pa.array(dup_ids)), path),
        "columns": lambda: pq.write_table(table.drop_columns(["c1"]), path),
    }
    for what, damage in damaged.items():
        damage()
        with pytest.raises(ValueError, match=re.escape(str(path)) + ".*" + what):
            ck.load_latest()
    path.write_bytes(good)
    assert np.array_equal(ck.load_latest()[1], rank)
