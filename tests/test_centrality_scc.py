"""Geometric centralities, distance CDF, SCC (Tarjan oracle + coloring)."""

from __future__ import annotations

import numpy as np
import pytest

from webgraph_spark.algos.centrality import (
    distance_cdf,
    geometric_centralities,
    multi_source_bfs,
)
from webgraph_spark.algos.scc import (
    scc_coloring,
    scc_components_spark_oracle,
    scc_numpy,
)
from webgraph_spark.datagen.graphs import (
    directed_cycle,
    erdos_renyi,
    erdos_renyi_numpy,
    two_cliques_bridge,
)

from .oracles import bfs_numpy


def test_multi_source_bfs_vs_numpy(spark):
    n, p, seed = 40, 0.08, 11
    g = erdos_renyi(spark, n, p, seed=seed)
    adj = erdos_renyi_numpy(n, p, seed=seed)
    sources = [0, 5, 17]
    got = {
        (r.source, r.node): r.dist
        for r in multi_source_bfs(g, sources).collect()
    }
    for s in sources:
        dist = bfs_numpy(adj, s)
        want = {(s, v): int(dist[v]) for v in range(n) if dist[v] >= 0}
        got_s = {k: v for k, v in got.items() if k[0] == s}
        assert got_s == want, f"source {s}"


def test_geometric_centralities_cycle(spark):
    n = 6
    res = {r.source: r for r in geometric_centralities(directed_cycle(spark, n)).collect()}
    # on C_n every node reaches all others; sum_d = n(n-1)/2
    sum_d = n * (n - 1) / 2
    harm = sum(1.0 / d for d in range(1, n))
    for v in range(n):
        assert res[v].reachable == n
        assert abs(res[v].closeness - 1.0 / sum_d) < 1e-12
        assert abs(res[v].harmonic - harm) < 1e-12
        assert abs(res[v].lin - n * n / sum_d) < 1e-12


def test_distance_cdf(spark):
    g = directed_cycle(spark, 5)
    cdf = {r.dist: (r.n_pairs, r.cum_pairs) for r in distance_cdf(g, [0]).collect()}
    # from source 0: one node at each distance 0..4
    assert cdf == {d: (1, d + 1) for d in range(5)}


def test_scc_numpy_tarjan():
    # two 3-cycles joined by a one-way bridge -> 2 SCCs
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
    comp = scc_numpy(edges, 6)
    assert comp[0] == comp[1] == comp[2]
    assert comp[3] == comp[4] == comp[5]
    assert comp[0] != comp[3]


@pytest.mark.parametrize("n,p,seed", [(30, 0.08, 41), (50, 0.05, 42)])
def test_scc_coloring_matches_tarjan(spark, n, p, seed):
    g = erdos_renyi(spark, n, p, seed=seed)
    want = scc_components_spark_oracle(g)  # {node: scc_id}
    got = {r.node: r.scc for r in scc_coloring(g, max_rounds=100).collect()}
    assert set(got) == set(want)
    # compare as partitions (ids differ)
    def parts(lbl):
        groups = {}
        for v, c in lbl.items():
            groups.setdefault(c, set()).add(v)
        return {frozenset(s) for s in groups.values()}

    assert parts(got) == parts(want)


def test_scc_cycle_single(spark):
    got = scc_coloring(directed_cycle(spark, 8)).collect()
    assert len({r.scc for r in got}) == 1 and len(got) == 8


def test_scc_coloring_many_small_sccs_few_rounds(spark):
    """1000 3-cycles chained by one-way bridges: the per-color batched
    backward BFS must peel ALL of them together — max_rounds=10 would
    fail loudly (RuntimeError) under one-pivot-per-round peeling."""
    edges = []
    for i in range(1000):
        b = 3 * i
        edges += [(b, b + 1), (b + 1, b + 2), (b + 2, b)]
        if i:
            edges.append((b - 1, b))  # DAG bridge between consecutive cycles
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc for r in scc_coloring(g, max_rounds=10).collect()}
    assert len(got) == 3000
    comps = {}
    for v, c in got.items():
        comps.setdefault(c, set()).add(v)
    assert len(comps) == 1000
    assert all(s == {min(s), min(s) + 1, min(s) + 2} for s in comps.values())


def test_betweenness_path_graph_exact(spark):
    """Directed path 0->1->2->3->4: BC(v) = #(s,t) shortest paths
    through v = (v)*(4-v) for interior nodes."""
    from webgraph_spark.algos.betweenness import betweenness

    g = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    got = {r.node: r.betweenness for r in betweenness(g).collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}


@pytest.mark.parametrize("n,p,seed", [(40, 0.08, 13), (60, 0.05, 14), (50, 0.07, 15)])
def test_betweenness_matches_brandes_oracle(spark, n, p, seed):
    """Spark batched Brandes == independent numpy Brandes on ER graphs
    (the reference's dual-implementation test posture)."""
    from webgraph_spark.algos.betweenness import betweenness, betweenness_numpy

    g = erdos_renyi(spark, n, p, seed=seed)
    rows = [(r.src, r.dst) for r in g.collect()]
    present = sorted({s for s, _ in rows} | {d for _, d in rows})
    remap = {v: i for i, v in enumerate(present)}
    want = betweenness_numpy([(remap[s], remap[d]) for s, d in rows], len(present))
    got = {r.node: r.betweenness for r in betweenness(g).collect()}
    assert set(got) == set(present)
    for v in present:
        assert abs(got[v] - want[remap[v]]) < 1e-9, f"node {v}"


def test_linear_geometric_matches_harmonic(spark):
    """coeff=1/d must reproduce geometric_centralities' harmonic exactly
    (LinearGeometricCentrality.java:44-66 generic surface)."""
    from webgraph_spark.algos.betweenness import linear_geometric_centrality

    g = erdos_renyi(spark, 50, 0.06, seed=21)
    want = {r.source: r.harmonic for r in geometric_centralities(g).collect()}
    got = {
        r.source: r.centrality
        for r in linear_geometric_centrality(g, lambda d: 1.0 / d).collect()
    }
    for v, h in want.items():
        assert abs(got.get(v, 0.0) - h) < 1e-9


def test_betweenness_sampled_full_sample_is_exact(spark):
    """n_samples >= n must reduce to the exact path (scale = 1)."""
    from webgraph_spark.algos.betweenness import betweenness, betweenness_sampled

    g = erdos_renyi(spark, 40, 0.08, seed=13)
    exact = {r.node: r.betweenness for r in betweenness(g).collect()}
    got = {r.node: r.betweenness for r in betweenness_sampled(g, 10_000).collect()}
    assert got.keys() == exact.keys()
    for v in exact:
        assert abs(got[v] - exact[v]) < 1e-9


def test_betweenness_sampled_concentrates(spark):
    """Brandes-Pich sampling: the n/|S|-scaled estimator's error on an ER
    fixture stays inside a seed-averaged confidence band, and the band
    tightens as |S| grows (3 deterministic seeds per level)."""
    import numpy as np

    from webgraph_spark.algos.betweenness import (
        betweenness_numpy,
        betweenness_sampled,
    )

    n, p = 120, 0.04
    g = erdos_renyi(spark, n, p, seed=21).persist()
    rows = [(r.src, r.dst) for r in g.collect()]
    present = sorted({s for s, _ in rows} | {d for _, d in rows})
    remap = {v: i for i, v in enumerate(present)}
    exact = betweenness_numpy(
        [(remap[s], remap[d]) for s, d in rows], len(present)
    )
    scale_ref = float(np.abs(exact).max())
    errs = {}
    for s_count in (20, 80):
        per_seed = []
        for seed in (1, 2, 3):
            got = {
                r.node: r.betweenness
                for r in betweenness_sampled(g, s_count, seed=seed).collect()
            }
            err = max(abs(got[v] - exact[remap[v]]) for v in present)
            per_seed.append(err / scale_ref)
        errs[s_count] = sum(per_seed) / len(per_seed)
    g.unpersist()
    # seed-averaged max relative error shrinks with the sample and the
    # |S|=80 band is tight enough to rank heads reliably
    assert errs[80] < errs[20]
    assert errs[80] < 0.75, errs
