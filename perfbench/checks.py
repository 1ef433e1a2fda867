"""Output gate: each check returns an info dict or raises :class:`Mismatch`.

Goldens come from the engine's own NumPy oracles (``functions/golden``,
``operators/labelprop.golden_label_propagation``) and are computed once per
run, outside every timed window.
"""

from __future__ import annotations

import numpy as np

from approximate_pagerank_public_spark.functions.metrics import ndcg, top_k_ids

ATOL = 1e-6


class Mismatch(AssertionError):
    """A materialized result disagrees with its golden or invariant."""


def require(cond, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


def ppr_invariants(ranks: np.ndarray, num_sources: int, num_vertices: int) -> None:
    """Finite, non-negative, and each source's vector holds unit mass
    (teleport plus redistributed dangling mass conserve it)."""
    require(ranks.shape == (num_sources, num_vertices), f"shape {ranks.shape}")
    require(np.isfinite(ranks).all(), "non-finite rank")
    require((ranks >= 0).all(), "negative rank")
    mass = ranks.sum(axis=1)
    require(np.allclose(mass, 1.0, atol=1e-9), f"per-source mass {mass.tolist()}")


def allclose(got: np.ndarray, gold: np.ndarray, what: str) -> None:
    require(got.shape == gold.shape, f"{what}: shape {got.shape} vs {gold.shape}")
    err = float(np.abs(got - gold).max()) if got.size else 0.0
    require(err <= ATOL, f"{what}: max abs error {err:.3g} > {ATOL}")


def exact(got: np.ndarray, gold: np.ndarray, what: str) -> None:
    require(got.shape == gold.shape, f"{what}: shape {got.shape} vs {gold.shape}")
    bad = int((got != gold).sum())
    require(bad == 0, f"{what}: {bad} of {gold.size} entries differ")


def labels_by_id(pdf, col: str, num_vertices: int) -> np.ndarray:
    """``(id, <col>)`` pandas frame → dense int64 vector indexed by id."""
    out = np.full(num_vertices, -1, dtype=np.int64)
    out[pdf["id"].to_numpy(np.int64)] = pdf[col].to_numpy(np.int64)
    return out


def ndcg_min(approx: np.ndarray, converged: np.ndarray, k: int = 20) -> float:
    """Worst top-``k`` NDCG over sources, approximate vs converged ranks."""
    return min(
        ndcg(top_k_ids(converged[i], k), top_k_ids(approx[i], k))
        for i in range(len(converged))
    )


def bit_identical(a, b, what: str) -> None:
    """Resume gate: same iteration count and the same f64 bits."""
    require(a.iterations == b.iterations, f"{what}: {a.iterations} vs {b.iterations} iterations")
    require(
        np.array_equal(a.ranks_np.view(np.int64), b.ranks_np.view(np.int64)),
        f"{what}: ranks differ in the last bits",
    )
