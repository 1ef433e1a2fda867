"""The two closed-loop workloads.

One client: the next query starts only after the previous one has
returned its materialized result. Every call goes through the engine's
public entry points with the default ``mode="auto"``. Inputs derive from
the run seed alone: it seeds the generators and the source draws.
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from approximate_pagerank_public_spark import (
    Graph,
    connected_components,
    label_propagation,
    multi_ppr,
    pagerank,
    triangle_count,
)
from approximate_pagerank_public_spark.functions.golden import (
    golden_connected_components,
    golden_multi_ppr,
    golden_pagerank,
    golden_ppr,
    golden_triangle_count,
)
from approximate_pagerank_public_spark.operators.labelprop import golden_label_propagation
from approximate_pagerank_public_spark.plans import checkpoint as ckpt_layer
from approximate_pagerank_public_spark.sources.generators import gnp_edges
from approximate_pagerank_public_spark.sources.transcripts import synthesize_transcripts

from perfbench import checks
from perfbench.harness import Recorder, RunDirs, median


@dataclass(frozen=True)
class Size:
    gnm_vertices: int
    gnm_edges: int
    convs: int
    setup_reps: int


SIZES = {
    "full": Size(gnm_vertices=100_000, gnm_edges=2_000_000, convs=50_000, setup_reps=3),
    "tiny": Size(gnm_vertices=2_000, gnm_edges=20_000, convs=300, setup_reps=2),
}
GNM_SKEW = 0.1
SOURCES = 8
PPR_STEPS = 20  # fixed-budget protocol of the reference FPGA kernel
ANALYTICS_PPR_STEPS = 10
CKPT_EVERY = 5
INTERRUPT_AT = 5
LPA_ROUNDS = 5
CONVERGED_TOL = 1e-10


@dataclass
class Run:
    spark: object
    rec: Recorder
    dirs: RunDirs
    size: Size
    seed: int
    seconds: float
    session_s: float
    rng: np.random.Generator = field(init=False)
    graph: Graph | None = None
    setup_reps_s: list[float] = field(default_factory=list)
    queries_s: list[float] = field(default_factory=list)
    walked_per_s: list[float] = field(default_factory=list)  # edge traversals ÷ query wall
    ckpt_stats: list[dict] = field(default_factory=list)
    main_op: str = ""  # op whose calls feed the pagerank-layer metrics
    kernel_op: str = ""  # S-source op whose barrier phase timings feed kernel metrics
    kernel_steps: int = PPR_STEPS
    measure_done: Callable[[], None] = lambda: None  # ends the sampled window
    golden_s: float = 0.0  # time spent on goldens, outside every timed window

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    def draw_sources(self, n: int) -> list[int]:
        return sorted(self.rng.choice(n, size=min(SOURCES, n), replace=False).tolist())

    def setup(self, build) -> Graph:
        """Build the input graph ``setup_reps`` times (setup_s reports the
        median); only the last build is kept."""
        for _ in range(self.size.setup_reps):
            if self.graph is not None:
                self.graph.unpersist()
            start = time.perf_counter()
            self.graph = build(self)
            self.setup_reps_s.append(time.perf_counter() - start)
        return self.graph

    def add_query(self, wall_s: float, walked: int) -> None:
        self.queries_s.append(wall_s)
        self.walked_per_s.append(walked / wall_s)

    def measuring(self):
        """Closed loop: yield until ``seconds`` have passed (at least once)."""
        start = time.perf_counter()
        while True:
            yield
            if time.perf_counter() - start >= self.seconds:
                return

    @contextmanager
    def goldens(self):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.golden_s += time.perf_counter() - start

    def late_check(self, record, fn) -> None:
        """An untimed golden check of an earlier op's output."""
        try:
            record.info.update(fn() or {})
        except AssertionError as ex:
            record.ok = False
            record.info["check_failed"] = str(ex)[:300]


def _pagerank_info(res) -> dict:
    steps = [m["wall_ms"] / 1e3 for m in res.metrics]
    return {
        "iters": res.iterations,
        "steps_wall_s": float(sum(steps)),
        "step_p50_s": median(steps),
        "phases": res.phase_timings,
    }


def _warm_layers(run: Run, g: Graph, warmup) -> Graph:
    rec = run.rec
    with rec.span("blocks.build") as a:
        blocks = g.blocks
        a["count"] = blocks.num_partitions
    with rec.span("graph.dangling_mask"):
        g.dangling_mask()
    with rec.span("pagerank.warmup"):
        warmup(g)
    return g


def _build_gnm(run: Run, warmup) -> Graph:
    with run.rec.span("graph.layout") as a:
        g = Graph(
            gnp_edges(
                run.spark,
                run.size.gnm_vertices,
                run.size.gnm_edges,
                seed=run.seed,
                skew=GNM_SKEW,
            )
        )
        a["edges"] = g.num_edges
    return _warm_layers(run, g, warmup)


# ---------------------------------------------------- analytics-transcripts
def _build_transcripts(run: Run) -> Graph:
    with run.rec.span("etl.build") as a:
        g = Graph.from_transcripts(synthesize_transcripts(run.spark, run.size.convs, seed=run.seed))
        a["vertices"], a["edges"] = g.num_vertices, g.num_edges
    return _warm_layers(run, g, lambda g: pagerank(g, max_iter=1))


def analytics_transcripts(run: Run) -> None:
    g = run.setup(_build_transcripts)
    n, m = g.num_vertices, g.num_edges
    run.main_op, run.kernel_op = "pagerank", "multi_ppr8"
    run.kernel_steps = ANALYTICS_PPR_STEPS

    sources = run.draw_sources(n)
    with run.goldens():  # once, before the timed loop
        src, dst, w = g.edges_numpy()
        und = g.undirected()
        try:
            us, ud, uw = und.edges_numpy()
        finally:
            und.unpersist()
        gold_pr, _ = golden_pagerank(src, dst, w, n)
        gold_ppr = golden_multi_ppr(sources, src, dst, w, n, tol=0, max_iter=ANALYTICS_PPR_STEPS)
        converged = golden_multi_ppr(sources, src, dst, w, n, tol=CONVERGED_TOL, max_iter=1000)
        gold_cc = golden_connected_components(src, dst, n)
        gold_lpa = golden_label_propagation(us, ud, uw, n, max_iter=LPA_ROUNDS)
        gold_tri = golden_triangle_count(src, dst, n)

    def check_pr(res):
        checks.allclose(res.ranks_np[0], gold_pr, "pagerank vs golden_pagerank")
        return _pagerank_info(res)

    def check_ppr(res):
        checks.allclose(res.ranks_np, gold_ppr, "multi_ppr8 vs golden_multi_ppr")
        return {**_pagerank_info(res), "ndcg20_min": checks.ndcg_min(res.ranks_np, converged)}

    def check_cc(pdf):
        checks.exact(checks.labels_by_id(pdf, "component", n), gold_cc, "connected_components")

    def check_lpa(pdf):
        checks.exact(checks.labels_by_id(pdf, "label", n), gold_lpa, "label_propagation")

    def check_tri(count):
        checks.require(count == gold_tri, f"triangle_count {count} vs golden {gold_tri}")

    ops = [
        ("pagerank", lambda: pagerank(g, tol=1e-6), check_pr),
        (
            "multi_ppr8",
            lambda: multi_ppr(g, sources, tol=0, max_iter=ANALYTICS_PPR_STEPS),
            check_ppr,
        ),
        ("cc", lambda: connected_components(g).toPandas(), check_cc),
        ("lpa5", lambda: label_propagation(g, max_iter=LPA_ROUNDS).toPandas(), check_lpa),
        ("triangles", lambda: triangle_count(g), check_tri),
    ]
    for _ in run.measuring():
        cycle_s, walked = 0.0, 0
        for op, fn, check in ops:
            record, res = run.rec.run_op(op, fn, check)
            cycle_s += record.wall_s
            if op in ("pagerank", "multi_ppr8") and res is not None:
                walked += m * res.ranks_np.shape[0] * res.iterations
        run.add_query(cycle_s, walked)
    run.measure_done()


# ------------------------------------------------------------ checkpoints
@contextmanager
def checkpoint_timing(run: Run):
    """Traced runs only: time ``CheckpointManager.save``/``load_latest`` at
    the checkpoint layer's public boundary, restoring both on exit."""
    cls = ckpt_layer.CheckpointManager
    orig_save, orig_load = cls.save, cls.load_latest
    acc = {"save_s": 0.0, "load_s": 0.0}

    def timed(orig, key):
        def wrapper(*args, **kwargs):
            start = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                acc[key] += time.perf_counter() - start

        return wrapper

    if run.rec.trace:
        cls.save, cls.load_latest = timed(orig_save, "save_s"), timed(orig_load, "load_s")
    try:
        yield acc
    finally:
        cls.save, cls.load_latest = orig_save, orig_load


def _fresh_dir(run: Run, name: str) -> Path:
    d = run.dirs.ckpt / name
    shutil.rmtree(d, ignore_errors=True)
    return d


def _warm_checkpoint(run: Run, g: Graph) -> None:
    """One save and one resume, untimed and outside ``setup_s``, so the first
    timed cycle does not pay the checkpoint path's first-use costs."""
    d = _fresh_dir(run, "warm")
    pagerank(g, tol=0, max_iter=1, checkpoint_dir=str(d), checkpoint_every=1)
    pagerank(g, tol=0, max_iter=2, checkpoint_dir=str(d), checkpoint_every=1)
    shutil.rmtree(d, ignore_errors=True)


# -------------------------------------------------------------- ppr-ckpt-gnm
def ppr_ckpt_gnm(run: Run) -> None:
    warm_sources = list(range(SOURCES))
    g = run.setup(
        lambda r: _build_gnm(r, lambda g: multi_ppr(g, warm_sources, tol=0, max_iter=1))
    )
    _warm_checkpoint(run, g)
    n, m = g.num_vertices, g.num_edges
    run.main_op, run.kernel_op = "pagerank_ckpt", "ppr_batch"

    def check_batch(res):
        checks.require(res.iterations == PPR_STEPS, f"{res.iterations} supersteps")
        checks.ppr_invariants(res.ranks_np, SOURCES, n)
        return _pagerank_info(res)

    def check_full(res):
        checks.ppr_invariants(res.ranks_np, 1, n)
        return _pagerank_info(res)

    def check_interrupted(res):
        checks.require(res.iterations == INTERRUPT_AT, f"{res.iterations} supersteps")
        return _pagerank_info(res)

    first = None
    with checkpoint_timing(run) as acc:
        for _ in run.measuring():
            cycle_s, walked = 0.0, 0
            sources = run.draw_sources(n)
            record, res = run.rec.run_op(
                "ppr_batch", lambda: multi_ppr(g, sources, tol=0, max_iter=PPR_STEPS), check_batch
            )
            cycle_s += record.wall_s
            if res is not None:
                walked += m * SOURCES * res.iterations
                if first is None:
                    first = (record, sources[0], res.ranks_np[0].copy())

            full_dir, cut_dir = _fresh_dir(run, "full"), _fresh_dir(run, "cut")
            acc["save_s"] = 0.0
            record, full = run.rec.run_op(
                "pagerank_ckpt",
                lambda: pagerank(
                    g, tol=1e-6, checkpoint_dir=str(full_dir), checkpoint_every=CKPT_EVERY
                ),
                check_full,
            )
            cycle_s += record.wall_s
            if full is not None:
                walked += m * full.iterations
            stats = {
                "save_s": acc["save_s"],
                "wall_s": record.wall_s,
                "saves": len(list(full_dir.glob("iter_*"))),
                "bytes": sum(f.stat().st_size for f in full_dir.rglob("*") if f.is_file()),
            }
            record, _ = run.rec.run_op(
                "interrupted",
                lambda: pagerank(
                    g,
                    tol=1e-6,
                    max_iter=INTERRUPT_AT,
                    checkpoint_dir=str(cut_dir),
                    checkpoint_every=CKPT_EVERY,
                ),
                check_interrupted,
            )
            cycle_s += record.wall_s

            def check_resume(res, full=full):
                checks.require(full is not None, "no uninterrupted run to compare")
                checks.bit_identical(res, full, "resume vs uninterrupted")
                return _pagerank_info(res)

            acc["load_s"] = 0.0
            record, resumed = run.rec.run_op(
                "resume",
                lambda: pagerank(
                    g, tol=1e-6, checkpoint_dir=str(cut_dir), checkpoint_every=CKPT_EVERY
                ),
                check_resume,
            )
            cycle_s += record.wall_s
            if resumed is not None:
                walked += m * resumed.iterations  # the interrupted run's supersteps included
            stats["load_s"] = acc["load_s"]
            run.ckpt_stats.append(stats)
            shutil.rmtree(full_dir, ignore_errors=True)
            shutil.rmtree(cut_dir, ignore_errors=True)
            run.add_query(cycle_s, walked)
    run.measure_done()

    if first is not None:
        record, source, got = first

        def golden():
            src, dst, w = g.edges_numpy()
            gold, _ = golden_ppr(source, src, dst, w, n, tol=0, max_iter=PPR_STEPS)
            checks.allclose(got, gold, f"ppr source {source} vs golden_ppr")

        with run.goldens():
            run.late_check(record, golden)


WORKLOADS = {
    "ppr-ckpt-gnm": ppr_ckpt_gnm,
    "analytics-transcripts": analytics_transcripts,
}
