"""Sparse NumPy checkers for the benchmark's outputs.

``pagerank_sparse`` is the reference power method of
pagerank_spark.oracle.pagerank_np (alpha, L2 normalisation, rank-1 dangling
term, same stopping rule) on a COO edge list with ``np.bincount`` as the
SpMV, so it scales to the benchmark's graph sizes where the dense oracle
cannot. ``validate_on_golden`` checks it against the dense oracle and the
published golden ranks before any benchmark output is trusted.
"""

from __future__ import annotations

import math

import numpy as np

RANK_ATOL = 1e-6


class Graph:
    """Deduplicated weighted edge table with LinkGraph's build semantics:
    weight = (copies of the edge) / (out-degree counting duplicate rows);
    vertices = every url that appears as a source or a target."""

    def __init__(self, urls: np.ndarray, src: np.ndarray, dst: np.ndarray, weight: np.ndarray):
        self.urls = urls
        self.src = src
        self.dst = dst
        self.weight = weight

    @classmethod
    def from_edges(cls, edges) -> "Graph":
        s = np.array([e[0] for e in edges], dtype=object)
        t = np.array([e[1] for e in edges], dtype=object)
        urls, inv = np.unique(np.concatenate([s, t]), return_inverse=True)
        si, ti = inv[: len(s)], inv[len(s):]
        n = len(urls)
        pairs, k = np.unique(si.astype(np.int64) * n + ti, return_counts=True)
        outdeg = np.bincount(si, minlength=n)
        ps, pt = pairs // n, pairs % n
        return cls(urls, ps, pt, k / outdeg[ps])

    @property
    def num_vertices(self) -> int:
        return len(self.urls)

    @property
    def num_edges(self) -> int:
        return len(self.src)


def pagerank_sparse(g: Graph, alpha: float = 0.85, epsilon: float = 1e-6,
                    max_iterations: int = 1000):
    """Return (ranks aligned with g.urls, iterations)."""
    n = g.num_vertices
    dangling = np.ones(n)
    dangling[g.src] = 0.0
    v = np.full(n, 1.0 / n)
    v /= np.linalg.norm(v)
    x = np.full(n, 1.0 / math.sqrt(n))
    iters = 0
    for _ in range(max_iterations):
        iters += 1
        q = (alpha * float(x @ dangling) + (1.0 - alpha)) * v
        x_new = alpha * np.bincount(g.dst, weights=g.weight * x[g.src], minlength=n) + q
        x_new /= np.linalg.norm(x_new)
        r = float(np.linalg.norm(x_new - x))
        x = x_new
        if r < epsilon:
            break
    return x, iters


def validate_on_golden() -> list[str]:
    """Problems found when checking the sparse checker on the golden graph
    against the dense oracle and the published golden ranking (empty = ok)."""
    from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES, GOLDEN_SMALL_RANKS
    from pagerank_spark.oracle.pagerank_np import pagerank_np

    problems = []
    g = Graph.from_edges(GOLDEN_SMALL_EDGES)
    ranks, iters = pagerank_sparse(g)
    got = dict(zip(g.urls.tolist(), ranks.tolist()))
    dense, dense_iters, _ = pagerank_np(GOLDEN_SMALL_EDGES, apply_regex_filter=False)
    if iters != dense_iters:
        problems.append(f"golden iterations {iters} != dense oracle {dense_iters}")
    for u, r in dense.items():
        if abs(got[u] - r) > 1e-12:
            problems.append(f"golden rank of {u}: {got[u]} != dense oracle {r}")
    for u, r in GOLDEN_SMALL_RANKS.items():
        if abs(got[u] - r) > 5e-5:
            problems.append(f"golden rank of {u}: {got[u]:.4e} != published {r:.4e}")
    return problems


# -- output comparisons (each returns an error string, or None when equal) --


def compare_ranks(got_urls, got_ranks, exp_urls, exp_ranks) -> str | None:
    got = np.asarray(got_urls, dtype=object)
    order = np.argsort(got)
    if len(got) != len(exp_urls) or not np.array_equal(got[order], exp_urls):
        return f"rank vector covers {len(got)} urls, expected {len(exp_urls)}"
    diff = np.abs(np.asarray(got_ranks, dtype=np.float64)[order] - exp_ranks)
    if not np.all(diff <= RANK_ATOL):
        return f"max |rank - oracle| = {diff.max():.3e} > {RANK_ATOL}"
    return None


def compare_search(rows, ranks_urls, ranks_vals, k: int) -> str | None:
    """Top-k by (rank desc, url asc) over the ranks the search was given."""
    order = np.lexsort((np.asarray(ranks_urls, dtype=object), -np.asarray(ranks_vals)))[:k]
    want = [ranks_urls[i] for i in order]
    got = [r["url"] for r in rows]
    if got != want or [r["result_rank"] for r in rows] != list(range(len(want))):
        return f"search returned {got[:3]}..., expected {want[:3]}..."
    return None


def compare_labels(got_urls, got_labels, exp_urls, exp_labels, what: str) -> str | None:
    got = dict(zip(got_urls, got_labels))
    exp = dict(zip(exp_urls, exp_labels))
    if got != exp:
        bad = sum(1 for u in exp if got.get(u) != exp[u]) + len(set(got) - set(exp))
        return f"{what}: {bad} of {len(exp)} vertices differ from the oracle"
    return None
