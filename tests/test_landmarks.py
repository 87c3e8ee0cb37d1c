"""Landmark distance sketch vs independent numpy BFS."""

import numpy as np
import pytest

from webgraph_spark.algos.landmarks import (
    estimate_distances,
    landmark_sketch,
    top_degree_landmarks,
)
from webgraph_spark.datagen.graphs import erdos_renyi_numpy

from .oracles import bfs_numpy


def _sym_noloop(adj):
    s = adj | adj.T
    np.fill_diagonal(s, False)
    return s


def _np_landmarks(s, n_landmarks):
    deg = s.sum(axis=1)
    order = sorted(range(len(deg)), key=lambda v: (-deg[v], v))
    return order[:n_landmarks]


@pytest.mark.parametrize("n,p,seed", [(60, 0.05, 31), (90, 0.03, 32)])
def test_landmark_sketch_vs_numpy(spark, n, p, seed):
    adj = erdos_renyi_numpy(n, p, seed=seed)
    s = _sym_noloop(adj)
    rows = [(int(u), int(v)) for u, v in zip(*np.nonzero(adj))]
    edges = spark.createDataFrame(rows, "src long, dst long")

    lms = _np_landmarks(s, 3)
    assert top_degree_landmarks(edges, 3) == lms

    sk = landmark_sketch(edges, n_landmarks=3, max_depth=4)
    got = {r["node"]: (r["d0"], r["d1"], r["d2"]) for r in sk.collect()}
    want = [bfs_numpy(s, l, 4) for l in lms]
    nodes = set(int(u) for u, v in rows) | set(int(v) for u, v in rows)
    assert set(got) == nodes
    for v in nodes:
        for i in range(3):
            exp = None if want[i][v] < 0 else int(want[i][v])
            assert got[v][i] == exp, f"node {v} landmark {i}"


def test_estimate_distances_is_admissible_upper_bound(spark):
    adj = erdos_renyi_numpy(50, 0.08, seed=33)
    s = _sym_noloop(adj)
    rows = [(int(u), int(v)) for u, v in zip(*np.nonzero(adj))]
    edges = spark.createDataFrame(rows, "src long, dst long")
    sk = landmark_sketch(edges, n_landmarks=4, max_depth=6)

    nodes = sorted(set(int(u) for u, v in rows) | set(int(v) for u, v in rows))
    full = {v: bfs_numpy(s, v, 50) for v in nodes}
    pairs = [(u, v) for u in nodes[:8] for v in nodes[-8:] if u != v]
    pdf = spark.createDataFrame(pairs, "u long, v long")
    est = {
        (r["u"], r["v"]): r["d_hat"]
        for r in estimate_distances(sk, pdf).collect()
    }
    lms = _np_landmarks(s, 4)
    for u, v in pairs:
        true = full[u][v]
        d_hat = est[(u, v)]
        if d_hat is not None:
            assert true >= 0, "estimate exists only for connected pairs"
            assert d_hat >= true, f"({u},{v}): estimate below true distance"
            # exact when a shortest path passes a landmark
            if any(full[u][l] >= 0 and full[u][l] + full[l][v] == true
                   for l in lms):
                assert d_hat == true


def test_rich_club_vs_numpy(spark):
    from webgraph_spark.algos.features import rich_club

    adj = erdos_renyi_numpy(70, 0.07, seed=41)
    s = _sym_noloop(adj)
    rows = [(int(u), int(v)) for u, v in zip(*np.nonzero(adj))]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["k"]: (r["n_rich"], r["rich_arcs"], r["phi"])
        for r in rich_club(edges).collect()
    }
    deg = s.sum(axis=1)
    for k in sorted(set(deg[deg > 0])):
        rich = np.nonzero(deg > k)[0]
        n = len(rich)
        mask = np.zeros(s.shape[0], dtype=bool)
        mask[rich] = True
        arcs = int(s[np.ix_(rich, rich)].sum())
        phi = round(arcs / (n * (n - 1)), 6) if n >= 2 else None
        assert got[int(k)] == (n, arcs, phi), f"k={k}"
    assert set(got) == {int(k) for k in set(deg[deg > 0])}


def test_rich_club_normalized_vs_numpy(spark):
    from webgraph_spark.algos.features import rich_club_normalized

    adj = erdos_renyi_numpy(70, 0.07, seed=42)
    s = _sym_noloop(adj)
    rows = [(int(u), int(v)) for u, v in zip(*np.nonzero(adj))]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["k"]: (r["n_rich"], r["rich_arcs"], r["phi"], r["rho"])
        for r in rich_club_normalized(edges).collect()
    }
    deg = s.sum(axis=1)
    M = int(s.sum())
    for k in sorted(set(deg[deg > 0])):
        rich = np.nonzero(deg > k)[0]
        n = len(rich)
        arcs = int(s[np.ix_(rich, rich)].sum())
        phi = round(arcs / (n * (n - 1)), 6) if n >= 2 else None
        S = int(deg[rich].sum())
        Q = int((deg[rich] ** 2).sum())
        rho = (
            round(arcs / ((S * S - Q) / M), 6)
            if n >= 2 and arcs > 0
            else None
        )
        assert got[int(k)] == (n, arcs, phi, rho), f"k={k}"


def test_oddball_scores_vs_numpy_and_flags_clique(spark):
    from decimal import Decimal
    import math

    from webgraph_spark.algos.features import oddball_scores

    # ER background + a planted 8-clique: clique members' ego-nets are
    # near-cliques -> they must land in the top scores
    adj = erdos_renyi_numpy(60, 0.05, seed=71)
    s = _sym_noloop(adj)
    for i in range(8):
        for j in range(8):
            if i != j:
                s[i, j] = True
    rows = [(int(u), int(v)) for u, v in zip(*np.nonzero(np.triu(s)))]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r["node"]: (r["deg"], r["ego_edges"], r["score"])
        for r in oddball_scores(edges).collect()
    }

    deg = s.sum(axis=1)
    nodes = np.nonzero(deg > 0)[0]
    tri = {
        int(v): int(s[np.ix_(np.nonzero(s[v])[0], np.nonzero(s[v])[0])].sum())
        // 2
        for v in nodes
    }
    xs = {v: round(math.log(deg[v]), 9) for v in nodes}
    ys = {v: round(math.log(deg[v] + tri[v]), 9) for v in nodes}
    q = lambda f: Decimal(f"{f:.12f}")
    n = len(nodes)
    sx = sum(q(xs[v]) for v in nodes)
    sy = sum(q(ys[v]) for v in nodes)
    sxy = sum(q(round(xs[v] * ys[v], 12)) for v in nodes)
    sxx = sum(q(round(xs[v] * xs[v], 12)) for v in nodes)
    beta = (n * float(sxy) - float(sx) * float(sy)) / (
        n * float(sxx) - float(sx) * float(sx)
    )
    alpha = (float(sy) - beta * float(sx)) / n
    for v in nodes:
        want = (
            int(deg[v]),
            int(deg[v]) + tri[v],
            round(abs(ys[v] - (alpha + beta * xs[v])), 6),
        )
        assert got[int(v)] == want, f"node {v}"
    # clique members dominate the anomaly ranking
    top = sorted(got, key=lambda v: -got[v][2])[:8]
    assert len(set(top) & set(range(8))) >= 6
