"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ppr-batch-gnm --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload with spans and probes around every
layer call and prints the per-layer metrics instead. The line before the
last one is a detail record (per-op medians, tail percentile and sample
count, failures, and the spans of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

if __package__ in (None, ""):  # run as a script: make `perfbench` importable
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import (  # noqa: E402
    PACKAGE,
    REPO_ROOT,
    MemorySampler,
    Recorder,
    RunDirs,
    dir_bytes,
    launch_env,
    median,
    stop_spark,
    tail,
    task_slots,
)

MB = 1e6
OPS = (
    "pagerank",
    "multi_ppr8",
    "cc",
    "lpa5",
    "triangles",
    "ppr_batch",
    "pagerank_ckpt",
    "resume",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


# ------------------------------------------------------------ metrics
def _span_median(rec: Recorder, name: str, key: str = "wall_s") -> float:
    return median(s.attrs[key] for s in rec.spans if s.name == name and key in s.attrs)


def _op_values(rec: Recorder, op: str, key: str) -> list:
    return [r.info[key] for r in rec.of(op) if r.ok and r.info.get(key) is not None]


def _last(rec: Recorder, op: str, key: str, default=0):
    vals = [r.info[key] for r in rec.of(op) if key in r.info]
    return vals[-1] if vals else default


def end_to_end(run, sampler: MemorySampler) -> dict:
    rec = run.rec
    return {
        "setup_s": run.session_s + median(run.setup_reps_s),
        "query_p50_s": median(run.queries_s),
        "query_tail_s": tail(run.queries_s)[0],
        "edge_traversals_per_s": median(run.walked_per_s),
        "peak_mem_mb": sampler.peak_total / MB,
        "ok_ops_ratio": (rec.attempted - rec.failed) / max(1, rec.attempted),
    }


def serial_kernel_ets(run, sources: int, reps: int = 3) -> float:
    """Driver-side single-thread ``load_block`` + ``tiled_spmv`` over every
    block: the plain baseline the gang's throughput is compared with."""
    import numpy as np

    from approximate_pagerank_public_spark.plans.blocks import load_block, tiled_spmv

    g = run.graph
    blocks = g.blocks
    state = np.random.default_rng(run.seed).random((g.num_vertices, sources))
    walls = []
    for _ in range(reps):
        start = time.perf_counter()
        for pid in blocks.pids:
            tiled_spmv(state, load_block(blocks.dir, pid))
        walls.append(time.perf_counter() - start)
    return g.num_edges * sources / median(walls)


def per_layer(run, sampler: MemorySampler) -> dict:
    """Every per-layer metric except ``shm.leak_mb``, which needs the graph
    released first."""
    rec = run.rec
    g = run.graph
    n, m = g.num_vertices, g.num_edges
    out: dict[str, float] = {"session.start_s": run.session_s}

    # operators/etl + sources/transcripts; plans/graph; plans/blocks build
    out["etl.build_s"] = _span_median(rec, "etl.build")
    out["etl.vertices"] = _span_median(rec, "etl.build", "vertices")
    out["etl.edges"] = _span_median(rec, "etl.build", "edges")
    out["graph.layout_s"] = _span_median(rec, "graph.layout")
    out["graph.dangling_mask_s"] = _span_median(rec, "graph.dangling_mask")
    blocks = g.blocks
    sizes = blocks.manifest["n_edges"].to_numpy(float)
    csr = sum(
        f.stat().st_size for f in Path(blocks.dir).glob("part_*") if f.is_file()
    )
    out["blocks.build_s"] = _span_median(rec, "blocks.build")
    out["blocks.count"] = blocks.num_partitions
    out["blocks.csr_mb"] = csr / MB
    out["blocks.edge_imbalance"] = float(sizes.max() / sizes.mean()) if len(sizes) else 0.0

    # plans/blocks kernel and plans/barrier, from the kernel op's phase timings
    from perfbench.workloads import SOURCES

    kop, s, steps = run.kernel_op, SOURCES, run.kernel_steps
    phases = _op_values(rec, kop, "phases")
    phase = {k: median(p[k][1] for p in phases) for k in ("compute", "wait", "rowwork", "fill", "ctl")}
    call_s = median(r.wall_s for r in rec.of(kop) if r.ok)
    tasks = min(blocks.num_partitions, task_slots())
    gang = m * s * steps / phase["compute"] if phase["compute"] else 0.0
    serial = serial_kernel_ets(run, s)
    bytes_step = csr + 8 * s * (m + 2 * n)
    out.update(
        {
            "kernel.ets_gang": gang,
            "kernel.serial_ets": serial,
            "kernel.parallel_eff": gang / (tasks * serial) if serial else 0.0,
            "kernel.bytes_per_superstep": float(bytes_step),
            "kernel.flops_per_byte": 2 * m * s / bytes_step,
            "barrier.tasks": tasks,
            "barrier.call_s": call_s,
            "barrier.compute_s_max": phase["compute"],
            "barrier.wait_s_max": phase["wait"],
            "barrier.rowwork_s_max": phase["rowwork"],
            "barrier.fill_s_max": phase["fill"],
            "barrier.ctl_s_max": phase["ctl"],
            "barrier.wait_share": phase["wait"] / call_s if call_s else 0.0,
        }
    )

    # operators/pagerank, from the workload's main pagerank-family op
    mop = run.main_op
    main_ok = [r for r in rec.of(mop) if r.ok]
    out["pagerank.supersteps"] = _last(rec, mop, "iters")
    out["pagerank.superstep_p50_s"] = median(_op_values(rec, mop, "step_p50_s"))
    out["pagerank.call_s"] = median(r.wall_s for r in main_ok)
    out["pagerank.call_overhead_s"] = median(r.wall_s - r.info["steps_wall_s"] for r in main_ok)
    out["pagerank.warmup_s"] = _span_median(rec, "pagerank.warmup")

    # plans/checkpoint
    cs = run.ckpt_stats
    out["checkpoint.saves"] = cs[-1]["saves"] if cs else 0
    out["checkpoint.save_s"] = median(c["save_s"] for c in cs)
    out["checkpoint.load_s"] = median(c["load_s"] for c in cs)
    out["checkpoint.mb_written"] = median(c["bytes"] for c in cs) / MB
    out["checkpoint.share"] = median(c["save_s"] / c["wall_s"] for c in cs)

    # Spark fixed costs per op (last call) and resource residue
    for op in OPS:
        out[f"spark.jobs.{op}"] = _last(rec, op, "spark_jobs")
        out[f"spark.stages.{op}"] = _last(rec, op, "spark_stages")
        out[f"spark.tasks.{op}"] = _last(rec, op, "spark_tasks")
        out[f"spark.failed_tasks.{op}"] = _last(rec, op, "spark_failed_tasks")
        out[f"spark.persisted_rdds_leaked.{op}"] = max(
            _op_values(rec, op, "persisted_leaked"), default=0
        )
    out["shm.peak_mb"] = sampler.peak_shm / MB

    # per-operator medians and output quality
    for op in OPS:
        out[f"ops.{op}_s"] = median(r.wall_s for r in rec.of(op) if r.ok)
    out["ops.ndcg20_min"] = min(_op_values(rec, "multi_ppr8", "ndcg20_min"), default=0.0)
    out["ops.failed_ratio"] = rec.failed / max(1, rec.attempted)

    # bases of the traced run, for shares and the tracing overhead
    out["trace.setup_s"] = run.session_s + median(run.setup_reps_s)
    out["trace.query_p50_s"] = median(run.queries_s)
    return out


def detail(run, leak_bytes: int) -> dict:
    rec = run.rec
    _, pct, count = tail(run.queries_s)
    ops = sorted({r.op for r in rec.ops})
    return {
        "detail": True,
        "query_tail_percentile": pct,
        "query_samples": count,
        "queries_s": run.queries_s,
        "setup_reps_s": run.setup_reps_s,
        "golden_s": run.golden_s,
        "op_median_s": {op: median(r.wall_s for r in rec.of(op)) for op in ops},
        "op_calls": {op: len(rec.of(op)) for op in ops},
        "calls": [
            [r.op, round(r.wall_s, 4), r.info.get("iters"), r.info.get("steps_wall_s")]
            for r in rec.ops
        ],
        "failed_ops_ratio": rec.failed / max(1, rec.attempted),
        "residue_mb": leak_bytes / MB,
        "failures": [
            {"op": r.op, **{k: r.info[k] for k in ("error", "check_failed") if k in r.info}}
            for r in rec.ops
            if not r.ok
        ],
        "spans": [vars(s) for s in rec.spans],
    }


# ---------------------------------------------------------------- run
def execute(args, spec: dict, dirs: RunDirs) -> tuple[dict, dict]:
    from approximate_pagerank_public_spark import get_spark

    from perfbench.workloads import SIZES, WORKLOADS, Run

    marks: dict[str, float] = {}  # seconds since start, for the run budget

    def mark(name: str) -> None:
        marks.setdefault(name, time.perf_counter() - T_START)

    def measured() -> None:
        sampler.stop()
        mark("measured")

    mark("imports")
    sampler = MemorySampler(dirs.shm).start()
    rec = Recorder(trace=bool(args.trace), shm_dir=dirs.shm)
    spark = None
    try:
        with rec.span("session.start") as a:
            spark = get_spark("perfbench", master=f"local[{task_slots()}]")
        spark.sparkContext.setLogLevel("ERROR")
        rec.spark = spark
        run = Run(spark, rec, dirs, SIZES[args.size], args.seed, args.seconds, a["wall_s"])
        run.measure_done = measured
        mark("session")
        try:
            WORKLOADS[args.workload](run)
        finally:
            sampler.stop()
        mark("workload")
        layers = per_layer(run, sampler) if args.trace else None
        if run.graph is not None:
            run.graph.unpersist()
        leak = dir_bytes(dirs.shm)  # blocks the engine did not release
        if leak:
            print(f"perfbench: {leak / MB:.1f} MB left in {dirs.shm}", file=sys.stderr)
        if layers is not None:
            layers["shm.leak_mb"] = leak / MB
        metrics = layers if args.trace else end_to_end(run, sampler)
        names = spec["per_layer" if args.trace else "end_to_end"]
        missing = [m["name"] for m in names if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        result = {
            "correct": rec.failed == 0,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {
                m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in names
            },
        }
        info = detail(run, leak)
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
    mark("stopped")
    peak = {k: v if k == "processes" else round(v / MB, 1) for k, v in sampler.peak_parts.items()}
    return result, {**info, "marks_s": marks, "peak_parts_mb": peak}


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its run tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not (REPO_ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {REPO_ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((REPO_ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    dirs = RunDirs(args.workload)
    try:
        os.environ.update(launch_env(dirs))
        result, info = execute(args, spec, dirs)
    finally:
        dirs.remove()
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
