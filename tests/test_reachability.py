"""The level-synchronous frontier kernel (algos/bfs.py) behind bfs,
multi_source_bfs and the SCC pivot sweep, and the landmark sweep:
one Spark job per level, and degenerate graphs against numpy oracles."""

from __future__ import annotations

import random

import numpy as np
import pytest

from webgraph_spark.algos.bfs import bfs
from webgraph_spark.algos.centrality import multi_source_bfs
from webgraph_spark.algos.landmarks import landmark_sketch
from webgraph_spark.algos.scc import scc_coloring, scc_numpy

from .oracles import bfs_numpy

# hub 0 with arcs to every leaf, and arcs back from the even leaves:
# SCC {0, 2, 4, 6} plus singletons 1, 3, 5
STAR = [(0, i) for i in range(1, 7)] + [(i, 0) for i in (2, 4, 6)]
GRAPHS = {
    "empty": [],
    "self_loops": [(i, i) for i in range(5)],
    "star": STAR,
}


def _frame(spark, arcs):
    return spark.createDataFrame(arcs, "src long, dst long")


def _adj(arcs):
    """Boolean adjacency over nodes 0..max; at least nodes 0 and 1, so
    the empty graph still has two (isolated) BFS sources."""
    n = max([max(a) for a in arcs], default=1) + 1
    adj = np.zeros((n, n), dtype=bool)
    for s, d in arcs:
        adj[s, d] = True
    return adj


def _want(adj, s):
    dist = bfs_numpy(adj, s)
    return {v: int(d) for v, d in enumerate(dist) if d >= 0}


def _n_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ring_plus_random(spark, n=60, extra=90, seed=5):
    rng = random.Random(seed)
    arcs = [(i, (i + 1) % n) for i in range(n)]
    arcs += [(rng.randrange(n), rng.randrange(n)) for _ in range(extra)]
    return _frame(spark, arcs)


def test_bfs_one_job_per_level(spark):
    g = _ring_plus_random(spark)
    res, jobs = _n_jobs(spark, "reach-bfs", lambda: bfs(g, [0]))
    dist = {r.node: r.dist for r in res.distances.collect()}
    assert res.rounds == max(dist.values()) > 3
    assert jobs <= res.rounds + 4, (res.rounds, jobs)


def test_multi_source_bfs_one_job_per_level(spark):
    g = _ring_plus_random(spark)
    d, jobs = _n_jobs(
        spark, "reach-msbfs", lambda: multi_source_bfs(g, [0, 5, 17])
    )
    rounds = max(r.dist for r in d.collect())
    assert rounds > 3
    assert jobs <= rounds + 4, (rounds, jobs)


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_bfs_degenerate(spark, graph):
    arcs = GRAPHS[graph]
    adj = _adj(arcs)
    g = _frame(spark, arcs)
    for s in range(adj.shape[0]):
        res = bfs(g, [s])
        got = {r.node: r.dist for r in res.distances.collect()}
        want = _want(adj, s)
        assert got == want, (graph, s)
        assert res.rounds == max(want.values())
    # a node-column DataFrame works as the source set too
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    got = {r.node: r.dist for r in bfs(g, seeds).distances.collect()}
    want = {}
    for s in (0, 1):
        for v, d in _want(adj, s).items():
            want[v] = min(d, want.get(v, d))
    assert got == want, graph


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_multi_source_bfs_degenerate(spark, graph):
    arcs = GRAPHS[graph]
    adj = _adj(arcs)
    sources = list(range(adj.shape[0]))
    got = {
        (r.source, r.node): r.dist
        for r in multi_source_bfs(_frame(spark, arcs), sources).collect()
    }
    want = {(s, v): d for s in sources for v, d in _want(adj, s).items()}
    assert got == want, graph


def _partition(labels):
    groups = {}
    for v, c in labels.items():
        groups.setdefault(c, set()).add(v)
    return {frozenset(s) for s in groups.values()}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_scc_coloring_degenerate(spark, graph):
    arcs = GRAPHS[graph]
    got = {r.node: r.scc for r in scc_coloring(_frame(spark, arcs)).collect()}
    nodes = sorted({v for a in arcs for v in a})
    comp = scc_numpy(arcs, _adj(arcs).shape[0])
    assert _partition(got) == _partition({v: int(comp[v]) for v in nodes})


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_landmark_sketch_degenerate(spark, graph):
    """Eight landmarks requested: every graph here has fewer non-loop
    nodes, so the missing landmarks' columns are all null."""
    arcs = GRAPHS[graph]
    L, depth = 8, 4
    sym = _adj(arcs)
    sym = sym | sym.T
    np.fill_diagonal(sym, False)
    deg = sym.sum(axis=1)
    lms = [v for v in sorted(range(len(deg)), key=lambda v: (-deg[v], v)) if deg[v]]
    sk = landmark_sketch(_frame(spark, arcs), n_landmarks=L, max_depth=depth)
    got = {r["node"]: tuple(r[f"d{i}"] for i in range(L)) for r in sk.collect()}
    dists = [bfs_numpy(sym, l, depth) for l in lms[:L]]
    want = {
        v: tuple(
            int(dists[i][v]) if i < len(dists) and dists[i][v] >= 0 else None
            for i in range(L)
        )
        for v in sorted({v for a in arcs for v in a})
    }
    assert got == want, graph
