"""PageRank, personalized PageRank, and 8-source multi-PPR.

Semantics match the reference goldens exactly (see
``functions/golden.py`` for formula citations):

- :func:`pagerank` ≙ ``PageRankCPU::execute``
  (``pagerank_cpu.cpp:25-68``; defaults α=0.8, tol=1e-6, max_iter=100
  from ``src/common/utils/options.hpp:20-22``). The *approximation*
  axes of the reference are exposed as parameters: a small ``max_iter``
  budget (FPGA default 6) and the L1 early-termination threshold.
- :func:`personalized_pagerank` ≙ ``personalized_pagerank_golden``
  (``gold_algorithms.hpp:105-140``).
- :func:`multi_ppr` ≙ the FPGA flagship ``multi_ppr_main``
  (``multi_personalized_pagerank.cpp:114-241``): S sources propagate
  through **one SpMV per superstep** — the rank state is an (S, N)
  block, so the edge stream is read once per iteration regardless of S,
  exactly how the FPGA amortizes its memory streams across 8 queries.

Execution modes (plain PageRank, PPR and multi-PPR are one loop with
``sources=None``, ``[source]`` or S sources):

- ``mode='broadcast'`` — driver holds O(S·N) f64 state; every superstep
  runs in ONE gang-scheduled barrier job (``plans/barrier.py``), falling
  back to one Arrow-kernel Spark job per superstep. Right when the
  vertex state fits the driver.
- ``mode='distributed-arrow'`` — cluster-state supersteps over shared-FS
  CSR blocks with spilled message payloads and vectorized NumPy kernels
  (``plans/distblocks.py``); vertex state never leaves the cluster. The
  path at 10^12-turn scale.
- ``mode='auto'`` picks by ``num_vertices``. Any other value raises
  ``ValueError``.

Every superstep appends to the iteration-metrics series
``(iter, l1_err, sq_l2_err, dangling_sum, wall_ms)`` — the reference's
per-iteration convergence-error write-back (V9) — and optionally
checkpoints durably via :class:`CheckpointManager` for mid-run resume.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.spmv import gather_contrib
from approximate_pagerank_public_spark.plans.checkpoint import (
    CheckpointManager,
    free_local_ckpt,
    local_ckpt,
    pinned_confs,
)
from approximate_pagerank_public_spark.plans.graph import Graph

# Mode-selection cutover for mode='auto', MEASURED at the protocol-max
# graph (BENCH_SCALING.json, |E|=1e8): the single-host barrier/block
# path sustains ~1.1B edge-traversals/s, and beat every cluster-state
# path on one box, so broadcast wins whenever driver state fits. Above
# it (> ~0.8 GB/source of f64) the state moves to distributed-arrow,
# whose message shuffle spreads across the cluster's aggregate bandwidth.
BROADCAST_MAX_VERTICES = 100_000_000

try:  # job/scheduling failures surface as Py4J errors in classic PySpark
    from py4j.protocol import Py4JError

    _BARRIER_FALLBACK_ERRORS: tuple = (TimeoutError, Py4JError)
except ImportError:  # pragma: no cover — Connect-only; barrier never engages
    _BARRIER_FALLBACK_ERRORS = (TimeoutError,)


@dataclass
class PageRankResult:
    iterations: int
    converged: bool
    metrics: list[dict] = field(repr=False)
    sources: list[int] | None
    ranks_np: np.ndarray | None = field(default=None, repr=False)  # (S, N)
    ranks_df: DataFrame | None = field(default=None, repr=False)
    _graph: Graph | None = field(default=None, repr=False)
    # barrier-path evidence: {phase: (min_s, max_s)} per-task seconds,
    # None when the run never took the gang-scheduled path. Kept
    # out-of-band so the metrics rows stay scalar (V9 table friendly).
    phase_timings: dict | None = field(default=None, repr=False)

    def ranks(self) -> DataFrame:
        """Vertex-state DataFrame: ``(id, rank)`` or ``(id, rank_0..{S-1})``."""
        if self.ranks_df is not None:
            return self.ranks_df
        import pandas as pd

        r = self.ranks_np
        n = r.shape[1]
        pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64)})
        if self.sources is None:
            pdf["rank"] = r[0]
        else:
            for i in range(r.shape[0]):
                pdf[f"rank_{i}"] = r[i]
        return self._graph.spark.createDataFrame(pdf)

    def metrics_df(self) -> DataFrame:
        """Iteration-metrics table ``(iter, l1_err, sq_l2_err,
        dangling_sum, wall_ms)`` — the reference's per-iteration
        convergence-error series (V9, ``multi_personalized_pagerank.cpp:
        96-108``) as a queryable DataFrame. Non-scalar keys (defensive —
        none are produced today) are stripped before conversion."""
        import pandas as pd

        scalar = [
            {k: v for k, v in m.items() if np.isscalar(v) or v is None}
            for m in self.metrics
        ]
        return self._graph.spark.createDataFrame(pd.DataFrame(scalar))

    def rank_vector(self, source_pos: int = 0) -> np.ndarray:
        if self.ranks_np is not None:
            return self.ranks_np[source_pos]
        col = "rank" if self.sources is None else f"rank_{source_pos}"
        pdf = self.ranks_df.select("id", col).toPandas().sort_values("id")
        return pdf[col].to_numpy(np.float64)

    def top_k(self, k: int, source_pos: int = 0) -> list[int]:
        """Ranked vertex ids, ties broken by **higher id first** —
        reference ``sort_pr`` (``evaluation_utils.hpp:17-39``)."""
        r = self.rank_vector(source_pos)
        order = np.lexsort((-np.arange(len(r)), -r))
        return order[:k].tolist()


def _superstep_np(
    graph: Graph,
    pr: np.ndarray,
    alpha: float,
    sources: list[int] | None,
    d: np.ndarray,
) -> np.ndarray:
    """One broadcast-mode superstep on an (S, N) block. ``d`` is the
    precomputed (S,) dangling dot (K2) — zeros when ``dangling_norm``
    is off (``ppr.gm:14-16``)."""
    n = graph.num_vertices
    contrib = gather_contrib(graph, pr)  # (S, N), one Spark job
    new = alpha * contrib + (alpha / n) * d[:, None]  # axpb (K3)
    if sources is None:
        new += (1.0 - alpha) / n
    else:
        new[np.arange(len(sources)), sources] += 1.0 - alpha  # K4
    return new


def _collect_init_ranks(graph: Graph, init_ranks) -> np.ndarray:
    """Driver-side (1, N) state from a warm-start ``(id, rank)``
    DataFrame: ids absent from ``init_ranks`` (e.g. vertices that
    appeared since the previous run) fill with the cold 1/N. The
    values are used verbatim — no renormalization — because the
    teleport-damped iteration is an affine contraction whose fixed
    point is independent of the starting vector's mass (any mass error
    decays by α per superstep)."""
    n = graph.num_vertices
    pdf = init_ranks.select("id", "rank").toPandas()
    pr = np.full((1, n), 1.0 / n, dtype=np.float64)
    pr[0, pdf["id"].to_numpy()] = pdf["rank"].to_numpy(dtype=np.float64)
    return pr


def _run_broadcast(
    graph: Graph,
    alpha: float,
    tol: float,
    max_iter: int,
    sources: list[int] | None,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    dangling_norm: bool = True,
    post_superstep=None,
    init_ranks=None,
) -> PageRankResult:
    from approximate_pagerank_public_spark.plans.reduction import (
        dang_partials,
        err_partials,
        n_chunks,
    )

    n = graph.num_vertices
    dang_idx = np.flatnonzero(graph.dangling_mask())
    if init_ranks is not None:
        pr = _collect_init_ranks(graph, init_ranks)
    elif sources is None:
        pr = np.full((1, n), 1.0 / n, dtype=np.float64)
    else:
        pr = np.zeros((len(sources), n), dtype=np.float64)
        pr[np.arange(len(sources)), sources] = 1.0
    s = pr.shape[0]

    metrics: list[dict] = []
    start_it = 0
    ckpt = CheckpointManager(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    if ckpt and resume:
        loaded = ckpt.load_latest()
        if loaded is not None:
            start_it, pr, metrics = loaded
    config = {
        "alpha": alpha,
        "tol": tol,
        "max_iter": max_iter,
        "sources": sources,
        "dangling_norm": dangling_norm,
    }

    # Fast path: ONE gang-scheduled barrier job runs every superstep
    # (see plans/barrier.py); with a checkpoint dir its leader saves
    # in-gang at the same points as the per-superstep path below.
    from approximate_pagerank_public_spark.plans.barrier import (
        barrier_available,
        run_barrier_pagerank,
    )

    if barrier_available(graph):
        try:
            state, m, its, conv, phases = run_barrier_pagerank(
                graph,
                alpha,
                tol,
                max_iter - start_it,
                sources,
                init_state=pr,
                iter_offset=start_it,
                dangling_norm=dangling_norm,
                post_superstep=post_superstep,
                ckpt=ckpt,
                history=metrics,
                config=config,
            )
            return PageRankResult(
                iterations=start_it + its,
                converged=conv,
                metrics=metrics + m,
                sources=sources,
                ranks_np=state,
                _graph=graph,
                phase_timings=phases,
            )
        except _BARRIER_FALLBACK_ERRORS as ex:
            # barrier unschedulable / gang failed mid-run → the
            # per-superstep path below recomputes from start_it. A
            # kernel bug would land here too, so make it LOUD.
            import warnings

            warnings.warn(
                f"barrier fast path failed, falling back to per-superstep "
                f"jobs: {type(ex).__name__}: {str(ex)[:400]}",
                RuntimeWarning,
                stacklevel=2,
            )

    nc = n_chunks(n)
    err_buf = np.zeros((nc, s), dtype=np.float64)
    sq_buf = np.zeros((nc, s), dtype=np.float64)
    dang_buf = np.zeros((nc, s), dtype=np.float64)
    # dangling dot of the current state — same chunked association as
    # the barrier gang's rowwork partials (plans/reduction.py)
    dang_partials(pr, dang_idx, n, 0, nc, dang_buf)
    d = dang_buf.sum(axis=0)
    converged = False
    it = start_it
    zeros = np.zeros(s, dtype=np.float64)
    for it in range(start_it + 1, max_iter + 1):
        t0 = time.perf_counter()
        new = _superstep_np(graph, pr, alpha, sources, d if dangling_norm else zeros)
        if post_superstep is not None:
            new = post_superstep(new)
        err_partials(new, pr, n, 0, nc, err_buf, sq_buf)
        l1 = err_buf.sum(axis=0)
        sq = sq_buf.sum(axis=0)
        pr = new
        dang_partials(pr, dang_idx, n, 0, nc, dang_buf)
        d = dang_buf.sum(axis=0)
        metrics.append(
            {
                "iter": it,
                "l1_err": float(l1.max()),
                "sq_l2_err": float(sq.max()),
                "dangling_sum": float(d.max()),
                "wall_ms": (time.perf_counter() - t0) * 1e3,
            }
        )
        if ckpt:
            ckpt.save(it, pr, metrics, config=config)
        if l1.max() <= tol:
            converged = True
            break
    return PageRankResult(
        iterations=it,
        converged=converged,
        metrics=metrics,
        sources=sources,
        ranks_np=pr,
        _graph=graph,
    )


def _run_distributed_arrow(
    graph: Graph,
    alpha: float,
    tol: float,
    max_iter: int,
    sources: list[int] | None,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    dangling_norm: bool = True,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Message-shuffle supersteps over shared-FS CSR blocks — the
    cluster-scale path (``plans/distblocks.py``; single source, plain
    PageRank, and the (S, N) multi-PPR block all share it). Runs under
    :func:`_run`'s pinned partition layout.

    Per superstep: one job whose only all-to-all is packed per-(state
    partition, block) binary messages feeding the L2-tiled NumPy SpMV
    against mmap-cached blocks, then one narrow scan for the stop scalars
    (carried as diff columns on the checkpointed state, so no second
    join) which ALSO computes the next iteration's dangling dot
    (dangling ⇔ empty routing column) — so the dangling term costs no
    job of its own. Vertex state never leaves the cluster.
    """
    spark = graph.spark
    n = graph.num_vertices
    p = graph.num_partitions
    store = graph.dist_blocks()
    s = 1 if sources is None else len(sources)
    cols = [f"r{i}" for i in range(s)]
    # the routing column is STATIC — pin it once as its own hash(id, p)
    # checkpoint and join it to the loop state per superstep (an
    # exchange-free shuffle-hash join: both sides keep the same
    # partitioning). The checkpointed loop state carries only a 1-byte
    # `dang` flag instead of the ~P-entry pids array, cutting the
    # per-superstep checkpoint write and the two state reads by ~2×
    # (measured 3.5 → ~3 s superstep at |E|=10⁸/32c).
    rt, rt_ids = local_ckpt(
        store.attach_routing(graph.vertices).repartition(p, "id")
    )
    routed = rt.select("id", F.size("pids").eqNullSafe(0).alias("dang"))
    if sources is None and init_ranks is not None:
        routed = routed.join(
            init_ranks.select("id", F.col("rank").alias("_ir")), "id", "left"
        )
        init = [F.coalesce(F.col("_ir"), F.lit(1.0 / n)).alias("r0")]
    elif sources is None:
        init = [F.lit(1.0 / n).alias("r0")]
    else:
        init = [
            F.when(F.col("id") == src, 1.0).otherwise(0.0).alias(c)
            for c, src in zip(cols, sources)
        ]
    state, state_ids = local_ckpt(
        routed.select("id", "dang", *init).repartition(p, "id")
    )

    metrics: list[dict] = []
    start_it = 0
    config = {
        "alpha": alpha,
        "tol": tol,
        "max_iter": max_iter,
        "sources": sources,
        "dangling_norm": dangling_norm,
    }
    ckpt = CheckpointManager(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    if ckpt and resume:
        loaded = ckpt.load_latest_df(graph.spark)
        if loaded is not None:
            start_it, ranks_df, metrics = loaded
            new, new_ids = local_ckpt(
                rt.select("id", F.size("pids").eqNullSafe(0).alias("dang"))
                .join(ranks_df.select("id", *cols), "id")
                .select("id", "dang", *cols)
                .repartition(p, "id")
            )
            free_local_ckpt(spark, state_ids)
            state, state_ids = new, new_ids
    converged = False
    it = start_it
    # dangling dot of the CURRENT state, one scan before the loop; every
    # later iteration piggybacks it on the stop-scalar agg of the state
    # it just materialized — no separate per-superstep job
    if dangling_norm:
        drow = (
            state.where(F.col("dang"))
            .agg(*[F.sum(c).alias(c) for c in cols])
            .first()
        )
        d = [float(drow[c] or 0.0) for c in cols]
    else:
        d = [0.0] * s
    for it in range(start_it + 1, max_iter + 1):
        t0 = time.perf_counter()
        # exchange-free SHJ: rt and state share hash(id, p) partitioning
        contribs = store.contribs(
            rt.join(state.select("id", *cols), "id"), s, p
        )
        new_cols, diff_cols = [], []
        for i, c in enumerate(cols):
            expr = F.lit(alpha) * F.coalesce(F.col(f"c{i}"), F.lit(0.0)) + F.lit(
                alpha / n * d[i] + ((1.0 - alpha) / n if sources is None else 0.0)
            )
            if sources is not None:
                expr = expr + F.when(
                    F.col("id") == sources[i], 1.0 - alpha
                ).otherwise(0.0)
            new_cols.append(expr.alias(c))
            diff_cols.append(F.abs(expr - F.col(c)).alias(f"_d{i}"))
        gaggs = (
            [
                F.sum(F.when(F.col("dang"), F.col(c))).alias(f"_g{i}")
                for i, c in enumerate(cols)
            ]
            if dangling_norm
            else []
        )
        # stop scalars + next dangling dot ride the SAME job as the state
        # checkpoint (CollectMetrics/observe accumulates them while rows
        # stream past) — the r3 path paid a second O(V·S) scan job per
        # superstep for them, a fixed ~1 s of the ~4.9 s superstep at
        # |E|=10⁸, and carried the diff columns inside the checkpointed
        # state; now the checkpoint holds only (id, dang, r*) — the
        # static pids routing lives in the pinned `rt` checkpoint.
        #
        # Join shape: localCheckpoint preserves the state's hash(id, p)
        # outputPartitioning, so with shuffle partitions == p the ONLY
        # exchange here is contribs→hash(id, p); the shuffle_hash hint
        # builds the hash map on the contribs side and streams state
        # in-place (a sort-merge join would add two O(V·S) sorts per
        # superstep), and the join output is already hash(id, p) — the
        # explicit trailing repartition the r3 path paid (a second full
        # O(V·S) exchange per superstep) is gone.
        from pyspark.sql import Observation

        obs = Observation()
        new, new_ids = local_ckpt(
            state.join(contribs.hint("shuffle_hash"), "id", "left")
            .select("id", "dang", *new_cols, *diff_cols)
            .observe(
                obs,
                *[F.sum(f"_d{i}").alias(f"_d{i}") for i in range(s)],
                *[F.sum(F.pow(f"_d{i}", 2)).alias(f"_q{i}") for i in range(s)],
                *gaggs,
            )
            .select("id", "dang", *cols)
        )
        err_row = obs.get
        l1 = max(float(err_row[f"_d{i}"]) for i in range(s))
        sq = max(float(err_row[f"_q{i}"]) for i in range(s))
        d_used = max(d)
        if dangling_norm:
            d = [float(err_row[f"_g{i}"] or 0.0) for i in range(s)]
        # the new state is materialized — actually free the superseded
        # checkpoint blocks (DataFrame.unpersist would be a no-op)
        free_local_ckpt(spark, state_ids)
        state, state_ids = new, new_ids  # already (id, dang, r*)
        metrics.append(
            {
                "iter": it,
                "l1_err": l1,
                "sq_l2_err": sq,
                "dangling_sum": d_used,
                "wall_ms": (time.perf_counter() - t0) * 1e3,
            }
        )
        if ckpt:
            ckpt.save_df(state.select("id", *cols), it, metrics, config=config)
        if l1 <= tol:
            converged = True
            break
    # the final state is materialized — reclaim the last superstep's
    # spilled message files and the pinned routing checkpoint (the
    # returned ranks depend only on the final state's own blocks)
    store.clear_messages()
    free_local_ckpt(spark, rt_ids)
    if sources is None:
        out = state.select("id", F.col("r0").alias("rank"))
    else:
        out = state.select(
            "id", *[F.col(c).alias(f"rank_{i}") for i, c in enumerate(cols)]
        )
    return PageRankResult(
        iterations=it,
        converged=converged,
        metrics=metrics,
        sources=sources,
        ranks_df=out,
        _graph=graph,
    )


_MODES = ("auto", "broadcast", "distributed-arrow")


def _run(
    graph: Graph,
    sources: list[int] | None,
    mode: str,
    alpha: float,
    tol: float,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    dangling_norm: bool = True,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """The one dispatcher behind :func:`pagerank` (``sources=None``),
    :func:`personalized_pagerank` (``[source]``) and :func:`multi_ppr`.

    Raises ``ValueError`` on a ``mode`` outside ``_MODES``, and on a
    resume from a checkpoint dir written by another path or with another
    ``alpha`` / ``sources`` / ``dangling_norm`` (``tol`` and
    ``max_iter`` may differ: a resumed run may tighten or extend them).
    """
    if mode not in _MODES:
        raise ValueError(f"unknown PageRank mode {mode!r}; expected one of {_MODES}")
    if mode == "auto":
        mode = (
            "broadcast"
            if graph.num_vertices <= BROADCAST_MAX_VERTICES
            else "distributed-arrow"
        )
    if checkpoint_dir and resume:
        manifest = CheckpointManager(checkpoint_dir).read_manifest()
        if manifest and "latest" in manifest:
            # only save_df tags its format, so broadcast dirs carry no mode
            saved = dict(manifest.get("config", {}), mode=manifest.get("mode"))
            call = {
                "mode": "dataframe" if mode == "distributed-arrow" else None,
                "alpha": alpha,
                "sources": sources,
                "dangling_norm": dangling_norm,
            }
            for key, value in call.items():
                if saved.get(key) != value:
                    raise ValueError(
                        f"checkpoint dir {checkpoint_dir} was saved with "
                        f"{key}={saved.get(key)!r}, this call has {key}={value!r}; "
                        "use a fresh dir or resume=False"
                    )
    if mode == "broadcast":
        return _run_broadcast(
            graph, alpha, tol, max_iter, sources, checkpoint_dir,
            checkpoint_every, resume, dangling_norm, init_ranks=init_ranks,
        )
    # The checkpointed state must stay hash(id, p) across supersteps (the
    # shuffle-hash join streams it in place only then); AQE partition
    # coalescing re-plans the contribs exchange to fewer partitions and
    # the layout drifts superstep over superstep (measured: escalating
    # 5→29 s supersteps at |E|=10⁸ / 32 cores). See
    # :func:`~approximate_pagerank_public_spark.plans.checkpoint.pinned_confs`.
    with pinned_confs(
        graph.spark,
        {
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.shuffle.partitions": str(graph.num_partitions),
        },
    ):
        return _run_distributed_arrow(
            graph, alpha, tol, max_iter, sources, checkpoint_dir,
            checkpoint_every, resume, dangling_norm, init_ranks,
        )


def pagerank(
    graph: Graph,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """``init_ranks`` (an ``(id, rank)`` DataFrame, e.g. a previous
    run's ``ranks()``) warm-starts the power iteration — the
    incremental-recompute primitive for a continuously-ingested edge
    table (streaming/edge_stream.py): after a small graph delta, a warm
    start typically re-converges to 1e-6 in a small fraction of the
    cold iteration count. Ids absent from ``init_ranks`` (new vertices)
    start at the cold 1/N; values are used verbatim (the damped
    iteration's fixed point is independent of starting mass). Works on
    both execution paths; ``max_iter=0`` returns the filled init
    state itself (useful to inspect the fill rule)."""
    return _run(
        graph, None, mode, alpha, tol, max_iter, checkpoint_dir,
        checkpoint_every, resume, init_ranks=init_ranks,
    )


def personalized_pagerank(
    graph: Graph,
    source: int,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    dangling_norm: bool = True,
) -> PageRankResult:
    """``dangling_norm=False`` reproduces the reference's ``norm=false``
    PGX runs (``ppr.gm:14-16``): the dangling-mass redistribution term
    is skipped entirely, on both execution paths."""
    return _run(
        graph, [source], mode, alpha, tol, max_iter, checkpoint_dir,
        checkpoint_every, resume, dangling_norm,
    )


def multi_ppr(
    graph: Graph,
    sources: list[int],
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    dangling_norm: bool = True,
) -> PageRankResult:
    """All sources advance in lock-step through one SpMV per superstep;
    early termination when the worst source's L1 error ≤ tol (the FPGA
    kernel instead runs a fixed budget — pass ``tol=0`` +
    ``max_iter=m`` to reproduce that exactly). ``dangling_norm=False``
    drops the dangling term (``ppr.gm:14-16``)."""
    return _run(
        graph, list(sources), mode, alpha, tol, max_iter, checkpoint_dir,
        checkpoint_every, resume, dangling_norm,
    )
