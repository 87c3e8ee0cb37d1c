"""Independent references and output checks for the link-graph benchmark.

Everything here works on plain numpy arrays, or on DuckDB over the
transcripts parquet, and imports nothing from ``webgraph_spark``: a fault
in the engine cannot also hide in its reference. Each ``check_*`` returns
a list of problems; an empty list means the output passed.
"""

from __future__ import annotations

import numpy as np

ALPHA = 0.85
PAGERANK_TOL = 1e-6
# HyperBall NF(t) is a sum of n HLL estimates.  At log2m=5 its random
# part averages out over n >= 10^4 counters; what is left is the
# small-range (linear counting) bias: +1.6% for singleton balls, about
# +2% at t=1.  5% leaves room for that and nothing more (README).
HLL_TOLERANCE = 0.05


def _keys(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    return src.astype(np.int64) * np.int64(n) + dst.astype(np.int64)


def undirected_simple(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each undirected loop-free edge once, as (u < v)."""
    u = np.minimum(src, dst)
    v = np.maximum(src, dst)
    keep = u != v
    n = int(max(v.max(initial=-1), 0)) + 1
    k = np.unique(_keys(u[keep], v[keep], n))
    return k // n, k % n


def _per_node(nodes: np.ndarray, values: np.ndarray, n: int, what: str, problems: list):
    """values re-indexed by node id; every node 0..n-1 exactly once."""
    if len(nodes) != n or not np.array_equal(np.sort(nodes), np.arange(n)):
        problems.append(f"{what}: node set is not 0..{n - 1} exactly once")
        return None
    out = np.empty(n, dtype=values.dtype)
    out[nodes] = values
    return out


# ------------------------------------------------------------------ ingest


def transcript_counts(parquet_glob: str) -> tuple[int, int]:
    """(|E|, n) of the link graph, derived by DuckDB from the transcripts
    with the graph's definition: one node per turn and per distinct
    tool; arcs are turn sequences (rows - conversations), turn -> tool
    references, and one tool -> first-use turn per (conversation, tool)."""
    import duckdb

    con = duckdb.connect()
    try:
        rows, convs, refs, pairs, tools = con.execute(
            f"""
            SELECT count(*),
                   count(DISTINCT conv_id),
                   count(tool),
                   (SELECT count(*) FROM (SELECT DISTINCT conv_id, tool
                        FROM read_parquet('{parquet_glob}') WHERE tool IS NOT NULL)),
                   count(DISTINCT tool)
            FROM read_parquet('{parquet_glob}')
            """
        ).fetchone()
    finally:
        con.close()
    return rows - convs + refs + pairs, rows + tools


def check_ingest(src: np.ndarray, dst: np.ndarray, n_edges: int, n_nodes: int) -> list[str]:
    problems = []
    if len(src) != n_edges:
        problems.append(f"ingest: {len(src)} edges, transcripts imply {n_edges}")
    if np.any(src == dst):
        problems.append("ingest: self-loops present")
    n = int(max(src.max(initial=-1), dst.max(initial=-1))) + 1
    if len(np.unique(_keys(src, dst, max(n, 1)))) != len(src):
        problems.append("ingest: duplicate arcs")
    ids = np.unique(np.concatenate([src, dst]))
    if not np.array_equal(ids, np.arange(n_nodes)):
        problems.append(f"ingest: node ids are not dense 0..{n_nodes - 1}")
    return problems


# ---------------------------------------------------------------- pagerank


def pagerank_reference(
    src: np.ndarray, dst: np.ndarray, n: int, alpha: float = ALPHA, tol: float = 1e-12
) -> np.ndarray:
    """Power iteration from the uniform vector; dangling mass spread
    uniformly; stops at the first ||r_k - r_{k-1}||_inf < tol."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    w = 1.0 / outdeg[src]
    r = np.full(n, 1.0 / n)
    for _ in range(10_000):
        contrib = np.bincount(dst, weights=r[src] * w, minlength=n)
        new = (1.0 - alpha) / n + alpha * r[dangling].sum() / n + alpha * contrib
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            return r
    raise RuntimeError("reference PageRank did not converge")


def check_pagerank(
    nodes: np.ndarray, ranks: np.ndarray, src: np.ndarray, dst: np.ndarray, n: int
) -> list[str]:
    problems: list[str] = []
    r = _per_node(nodes, ranks, n, "pagerank", problems)
    if r is None:
        return problems
    if abs(r.sum() - 1.0) > 1e-9:
        problems.append(f"pagerank: mass {r.sum()!r} is not 1 within 1e-9")
    floor = (1.0 - ALPHA) / n
    if r.min() < floor * (1.0 - 1e-12):
        problems.append(f"pagerank: min rank {r.min()!r} below (1-alpha)/n = {floor!r}")
    exact = pagerank_reference(src, dst, n)
    bound = pagerank_bound(src, dst, n, exact)
    err = np.abs(r - exact).max()
    if err > bound:
        problems.append(f"pagerank: L-inf distance {err:.3e} to reference > {bound:.3e}")
    return problems


def pagerank_bound(src: np.ndarray, dst: np.ndarray, n: int, exact: np.ndarray) -> float:
    """Distance to the fixpoint that the stop rule allows on this graph:
    where the same iteration, stopped by the same rule, lands, plus tol
    for stopping one step early when the last step is within rounding of
    the threshold (README, "PageRank bound")."""
    stopped = pagerank_reference(src, dst, n, tol=PAGERANK_TOL)
    return float(np.abs(stopped - exact).max()) + PAGERANK_TOL


# -------------------------------------------------------------- components


def min_label_components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Union-find by hooking roots onto the smaller root, then pointer
    jumping; at the fixpoint each node's root is its component's min id."""
    parent = np.arange(n)
    while True:
        ru, rv = parent[src], parent[dst]
        diff = ru != rv
        if not diff.any():
            return parent
        lo = np.minimum(ru[diff], rv[diff])
        hi = np.maximum(ru[diff], rv[diff])
        np.minimum.at(parent, hi, lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def check_components(
    nodes: np.ndarray, labels: np.ndarray, src: np.ndarray, dst: np.ndarray, n: int
) -> list[str]:
    problems: list[str] = []
    lab = _per_node(nodes, labels, n, "cc", problems)
    if lab is None:
        return problems
    want = min_label_components(src, dst, n)
    bad = np.count_nonzero(lab != want)
    if bad:
        problems.append(f"cc: {bad} labels differ from the min-node-id labelling")
    return problems


# -------------------------------------------------------- label propagation


def label_propagation_reference(
    src: np.ndarray, dst: np.ndarray, n: int, max_iter: int
) -> tuple[np.ndarray, int]:
    """Synchronous rounds on the symmetrised loop-free graph: each node
    with neighbours takes the most frequent neighbour label, ties to the
    smallest; stop after a round that changes nothing, or at max_iter.
    Returns (labels, rounds run)."""
    u, v = undirected_simple(src, dst)
    a = np.concatenate([u, v])  # sender
    b = np.concatenate([v, u])  # receiver
    labels = np.arange(n)
    for k in range(1, max_iter + 1):
        lab = labels[a]
        order = np.lexsort((lab, b))
        rb, rl = b[order], lab[order]
        start = np.flatnonzero(np.r_[True, (rb[1:] != rb[:-1]) | (rl[1:] != rl[:-1])])
        cnt = np.diff(np.r_[start, len(rb)])
        gb, gl = rb[start], rl[start]
        # best per receiver: highest count, then smallest label
        best = np.lexsort((gl, -cnt, gb))
        first = np.r_[True, gb[best][1:] != gb[best][:-1]]
        new = labels.copy()
        new[gb[best][first]] = gl[best][first]
        if np.array_equal(new, labels):
            return labels, k
        labels = new
    return labels, max_iter


def check_label_propagation(
    nodes: np.ndarray,
    labels: np.ndarray,
    iterations: int,
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    max_iter: int,
) -> list[str]:
    problems: list[str] = []
    lab = _per_node(nodes, labels, n, "lpa", problems)
    if lab is None:
        return problems
    want, rounds = label_propagation_reference(src, dst, n, max_iter)
    bad = np.count_nonzero(lab != want)
    if bad:
        problems.append(f"lpa: {bad} labels differ from the reference")
    if iterations != rounds:
        problems.append(f"lpa: {iterations} rounds, reference ran {rounds}")
    return problems


# --------------------------------------------------------------- triangles


def triangle_reference(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the symmetrised simple graph: orient each edge from
    the lower (degree, id) end, list wedges at their lowest vertex, and
    look the closing edge up."""
    u, v = undirected_simple(src, dst)
    if len(u) == 0:
        return 0
    n = int(v.max()) + 1
    deg = np.bincount(np.concatenate([u, v]), minlength=n)
    rank = np.lexsort((np.arange(n), deg))
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    a = np.where(pos[u] < pos[v], u, v)
    b = np.where(pos[u] < pos[v], v, u)
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    starts = np.searchsorted(a, np.arange(n + 1))
    # wedge (x->p, x->q) for every later arc x->q in x's out-list
    later = starts[a + 1] - 1 - np.arange(len(a))
    e1 = np.repeat(np.arange(len(a)), later)
    e2 = e1 + np.arange(len(e1)) - np.repeat(np.cumsum(later) - later, later) + 1
    p, q = b[e1], b[e2]
    closing = _keys(np.where(pos[p] < pos[q], p, q), np.where(pos[p] < pos[q], q, p), n)
    return int(np.count_nonzero(np.isin(closing, _keys(a, b, n))))


def check_triangles(count: int, src: np.ndarray, dst: np.ndarray) -> list[str]:
    want = triangle_reference(src, dst)
    return [] if count == want else [f"triangles: {count}, reference counts {want}"]


# --------------------------------------------------------------- hyperball


def check_hyperball(nf: list[float], n: int, n_edges: int) -> list[str]:
    problems = []
    if len(nf) < 2:
        return [f"hyperball: {len(nf)} NF values, need NF(0) and NF(1)"]
    if any(b < a for a, b in zip(nf, nf[1:])):
        problems.append("hyperball: NF decreases")
    for t, exact in ((0, n), (1, n + n_edges)):
        rel = nf[t] / exact - 1.0
        if abs(rel) > HLL_TOLERANCE:
            problems.append(f"hyperball: NF({t}) off by {rel:+.2%} from {exact}")
    return problems


# ----------------------------------------------------------------- bvgraph


def check_same_arcs(
    src: np.ndarray, dst: np.ndarray, src2: np.ndarray, dst2: np.ndarray, what: str
) -> list[str]:
    n = max(int(x.max(initial=-1)) for x in (src, dst, src2, dst2)) + 1
    a = np.sort(_keys(src, dst, max(n, 1)))
    b = np.sort(_keys(src2, dst2, max(n, 1)))
    if np.array_equal(a, b):
        return []
    return [f"{what}: arc sets differ ({len(b)} arcs read, {len(a)} expected)"]


def arcs_from_csr(indptr: np.ndarray, succ: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return np.repeat(np.arange(len(indptr) - 1), np.diff(indptr)), succ
