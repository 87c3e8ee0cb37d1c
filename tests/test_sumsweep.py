"""SumSweep / iFUB exact diameter & radius vs numpy BFS all-pairs
(SumSweepDirectedDiameterRadius.java, FourSweepIterativeFringeDiameter
test posture: dual implementation, exact match)."""

from __future__ import annotations

import numpy as np
import pytest

from webgraph_spark.algos.sumsweep import four_sweep_ifub, sum_sweep_directed
from webgraph_spark.datagen.graphs import (
    directed_cycle,
    erdos_renyi,
    erdos_renyi_numpy,
    two_cliques_bridge,
)

from .oracles import bfs_numpy


def _diam_radius_numpy(adj: np.ndarray) -> tuple[int, int]:
    """Reachable-only forward ecc; diameter = max, radius = min over
    nodes that appear in the edge set."""
    present = adj.any(axis=1) | adj.any(axis=0)
    eccs = []
    for s in np.nonzero(present)[0]:
        d = bfs_numpy(adj, int(s))
        eccs.append(d[d >= 0].max())
    return int(max(eccs)), int(min(eccs))


def _sc_adj(n: int, extra: int, seed: int) -> np.ndarray:
    """Strongly connected: directed cycle + random chords."""
    rng = np.random.default_rng(seed)
    adj = np.zeros((n, n), dtype=bool)
    for i in range(n):
        adj[i, (i + 1) % n] = True
    for _ in range(extra):
        a, b = rng.integers(0, n, 2)
        if a != b:
            adj[a, b] = True
    return adj


def _to_df(spark, adj: np.ndarray):
    pairs = [(int(a), int(b)) for a, b in zip(*np.nonzero(adj))]
    return spark.createDataFrame(pairs, "src long, dst long")


def test_cycle_directed(spark):
    n = 6
    res = sum_sweep_directed(directed_cycle(spark, n))
    assert (res.diameter, res.radius, res.certified) == (n - 1, n - 1, True)


@pytest.mark.parametrize("n,extra,seed", [(20, 15, 1), (40, 60, 2)])
def test_directed_sc_vs_numpy(spark, n, extra, seed):
    adj = _sc_adj(n, extra, seed)
    want_d, want_r = _diam_radius_numpy(adj)
    res = sum_sweep_directed(_to_df(spark, adj))
    assert res.certified
    assert res.diameter == want_d
    assert res.radius == want_r
    # the point of SumSweep: far fewer BFS runs than n
    assert res.sweeps < 3 * n


def test_directed_not_sc_flagged(spark):
    """Non-strongly-connected input: result is flagged uncertified and
    the returned diameter is a valid lower bound."""
    adj = np.zeros((6, 6), dtype=bool)
    adj[0, 1] = adj[1, 2] = adj[2, 3] = adj[3, 4] = adj[4, 5] = True  # path
    res = sum_sweep_directed(_to_df(spark, adj))
    assert not res.certified
    assert res.diameter <= 5


@pytest.mark.parametrize("n,p,seed", [(40, 0.12, 1)])
def test_four_sweep_undirected_vs_numpy(spark, n, p, seed):
    adj = erdos_renyi_numpy(n, p, seed=seed)
    sym = adj | adj.T
    # restrict the oracle to the largest connected component's view:
    # four_sweep symmetrizes, reachable-only ecc
    want_d, _ = _diam_radius_numpy(sym)
    res = four_sweep_ifub(erdos_renyi(spark, n, p, seed=seed))
    assert res.certified
    assert res.diameter == want_d


def test_four_sweep_bridge(spark):
    edges = two_cliques_bridge(spark, 5, 5)
    sym_adj = np.zeros((10, 10), dtype=bool)
    for r in edges.collect():
        sym_adj[r.src, r.dst] = sym_adj[r.dst, r.src] = True
    want_d, _ = _diam_radius_numpy(sym_adj)
    res = four_sweep_ifub(edges)
    assert res.certified
    assert res.diameter == want_d
