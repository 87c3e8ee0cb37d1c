"""Single-process numpy/pandas oracles for the engine's algorithms.

These mirror the reference's dual-implementation cross-check strategy
(SURVEY.md §5 pattern 3: e.g. iterative SCC vs recursive Tarjan,
parallel HyperBall vs SequentialHyperBall)."""

from __future__ import annotations

import numpy as np


def pagerank_numpy(
    adj: np.ndarray, alpha: float = 0.85, tol: float = 1e-6, max_iter: int = 200
) -> np.ndarray:
    """Dense power iteration with uniform dangling redistribution —
    the exact semantics of webgraph_spark.algos.pagerank."""
    n = adj.shape[0]
    outdeg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        dangling = r[outdeg == 0].sum()
        contrib = np.zeros(n)
        nz = outdeg > 0
        contrib = (adj[nz].T @ (r[nz] / outdeg[nz]))
        new_r = (1 - alpha) / n + alpha * (contrib + dangling / n)
        if np.abs(new_r - r).max() < tol:
            return new_r
        r = new_r
    return r


def pagerank_numpy_fixed(
    adj: np.ndarray, iters: int, alpha: float = 0.85, pref: np.ndarray | None = None
) -> np.ndarray:
    """Exactly ``iters`` synchronous iterations (no convergence check).

    ``adj`` may hold arc weights (transition ∝ weight). ``pref`` is the
    preference vector (default uniform): the walk starts at it, and
    teleport plus dangling mass restart to it."""
    n = adj.shape[0]
    outdeg = adj.sum(axis=1)
    if pref is None:
        pref = np.full(n, 1.0 / n)
    r = pref.copy()
    for _ in range(iters):
        dangling = r[outdeg == 0].sum()
        nz = outdeg > 0
        contrib = adj[nz].T @ (r[nz] / outdeg[nz])
        r = pref * ((1 - alpha) + alpha * dangling) + alpha * contrib
    return r


def bfs_numpy(adj: np.ndarray, s: int, max_depth: int | None = None) -> np.ndarray:
    """Level-synchronous BFS distances from ``s`` over the boolean
    adjacency ``adj`` (arc u -> v when adj[u, v]); -1 when unreached
    (within ``max_depth`` levels, when given)."""
    n = adj.shape[0]
    dist = np.full(n, -1, dtype=np.int64)
    dist[s] = 0
    frontier = [s]
    d = 0
    while frontier and (max_depth is None or d < max_depth):
        d += 1
        nxt = []
        for u in frontier:
            for v in np.nonzero(adj[u])[0]:
                if dist[v] < 0:
                    dist[v] = d
                    nxt.append(int(v))
        frontier = nxt
    return dist


def connected_components_numpy(adj: np.ndarray) -> np.ndarray:
    """Components of the symmetrized graph via union-find (no scipy in
    this container); labels are the min node id of each component —
    matching the hash-min fixpoint."""
    n = adj.shape[0]
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    srcs, dsts = np.nonzero(adj | adj.T)
    for s, d in zip(srcs.tolist(), dsts.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return np.array([find(i) for i in range(n)])


def triangle_count_numpy(adj: np.ndarray) -> int:
    """Exact triangles of the symmetrized simple graph: trace(A^3)/6."""
    a = (adj | adj.T).astype(np.int64)
    np.fill_diagonal(a, 0)
    return int(np.trace(a @ a @ a) // 6)


def edges_to_adj(edges, n: int) -> np.ndarray:
    """(src, dst) rows -> dense boolean adjacency."""
    a = np.zeros((n, n), dtype=bool)
    for s, d in edges:
        a[int(s), int(d)] = True
    return a
