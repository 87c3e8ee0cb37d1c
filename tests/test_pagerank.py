"""PageRank vs numpy dense power iteration and networkx (FIXTURES.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from webgraph_spark.algos.pagerank import pagerank
from webgraph_spark.datagen.graphs import (
    complete_graph,
    directed_cycle,
    erdos_renyi,
    erdos_renyi_numpy,
    star,
)
from .oracles import pagerank_numpy, pagerank_numpy_fixed


def _ranks_array(result, n: int) -> np.ndarray:
    pdf = result.ranks.toPandas().sort_values("node")
    out = np.zeros(n)
    out[pdf["node"].to_numpy()] = pdf["rank"].to_numpy()
    return out


def test_clique_uniform(spark):
    n = 6
    res = pagerank(complete_graph(spark, n), tol=1e-9)
    assert res.converged
    np.testing.assert_allclose(_ranks_array(res, n), np.full(n, 1.0 / n), atol=1e-8)


def test_cycle_uniform(spark):
    n = 10
    res = pagerank(directed_cycle(spark, n))
    np.testing.assert_allclose(_ranks_array(res, n), np.full(n, 1.0 / n), atol=1e-6)


def test_star_dangling(spark):
    """Hub -> leaves: leaves are dangling; exercises dangling mass."""
    k = 10
    edges = star(spark, k, out=True)
    res = pagerank(edges, tol=1e-9, max_iter=300)
    adj = np.zeros((k + 1, k + 1), dtype=bool)
    adj[0, 1:] = True
    want = pagerank_numpy(adj, tol=1e-9)
    np.testing.assert_allclose(_ranks_array(res, k + 1), want, atol=1e-6)


@pytest.mark.parametrize("n,p,seed", [(30, 0.1, 1), (60, 0.05, 2), (100, 0.05, 3)])
def test_erdos_renyi_vs_numpy(spark, n, p, seed):
    edges = erdos_renyi(spark, n, p, seed=seed)
    adj = erdos_renyi_numpy(n, p, seed=seed)
    res = pagerank(edges, tol=1e-8, max_iter=300)
    assert res.converged
    want = pagerank_numpy(adj, tol=1e-8, max_iter=300)
    got = _ranks_array(res, n)
    # isolated nodes (no arcs at all) don't appear in the edge table;
    # compare on nodes present
    present = adj.any(axis=1) | adj.any(axis=0)
    np.testing.assert_allclose(got[present], want[present], atol=1e-6)


def test_vs_networkx(spark):
    pytest.importorskip("scipy")  # networkx.pagerank is scipy-backed
    networkx = pytest.importorskip("networkx")
    n, p, seed = 50, 0.08, 7
    adj = erdos_renyi_numpy(n, p, seed=seed)
    g = networkx.DiGraph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(*np.nonzero(adj)))
    want = networkx.pagerank(g, alpha=0.85, tol=1e-10, max_iter=500)
    res = pagerank(erdos_renyi(spark, n, p, seed=seed), tol=1e-9, max_iter=500)
    got = _ranks_array(res, n)
    present = adj.any(axis=1) | adj.any(axis=0)
    for i in range(n):
        if present[i]:
            assert abs(got[i] - want[i]) < 1e-6


def test_fixed_iterations_matches_numpy(spark):
    """Exactly-k synchronous iterations (the unrolled-SQL oracle mode)."""
    n, p, seed = 40, 0.1, 5
    res = pagerank(erdos_renyi(spark, n, p, seed=seed), fixed_iterations=5)
    want = pagerank_numpy_fixed(erdos_renyi_numpy(n, p, seed=seed), iters=5)
    got = _ranks_array(res, n)
    adj = erdos_renyi_numpy(n, p, seed=seed)
    present = adj.any(axis=1) | adj.any(axis=0)
    np.testing.assert_allclose(got[present], want[present], atol=1e-12)


def test_salted_agg_same_result(spark):
    n, p, seed = 40, 0.1, 9
    plain = pagerank(erdos_renyi(spark, n, p, seed=seed), fixed_iterations=4)
    salted = pagerank(
        erdos_renyi(spark, n, p, seed=seed), fixed_iterations=4, salt_buckets=8
    )
    a = _ranks_array(plain, n)
    b = _ranks_array(salted, n)
    np.testing.assert_allclose(a, b, atol=1e-12)


# ----------------------------------------------------- weighted PageRank

def test_weighted_equal_weights_matches_unweighted(spark):
    from pyspark.sql import functions as F
    from webgraph_spark.algos.pagerank import pagerank_weighted

    n, p, seed = 40, 0.1, 7
    e = erdos_renyi(spark, n, p, seed=seed)
    lab = e.withColumn("label", F.lit(3))  # uniform weights cancel
    plain = pagerank(e, fixed_iterations=5)
    weighted = pagerank_weighted(lab, fixed_iterations=5)
    a = _ranks_array(plain, n)
    b = _ranks_array(weighted, n)
    np.testing.assert_allclose(a, b, atol=1e-12)


def test_weighted_vs_numpy_weighted_power_iteration(spark):
    from webgraph_spark.algos.pagerank import pagerank_weighted

    # tiny weighted digraph, hand-computed via numpy power iteration
    arcs = [(0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 1), (3, 0, 5)]
    n, alpha, iters = 5, 0.85, 8  # node 4 is dangling+isolated? no: absent
    # include node 4 as a dangling sink
    arcs.append((1, 4, 1))
    df = spark.createDataFrame(arcs, "src long, dst long, label long")
    res = pagerank_weighted(df, fixed_iterations=iters)
    got = _ranks_array(res, n)

    W = np.zeros((n, n))
    for s, d, w in arcs:
        W[s, d] += w
    r = np.full(n, 1.0 / n)
    outw = W.sum(axis=1)
    for _ in range(iters):
        dmass = r[outw == 0].sum()
        contrib = np.zeros(n)
        nz = outw > 0
        contrib = (r[nz, None] * W[nz] / outw[nz, None]).sum(axis=0)
        r = (1 - alpha) / n + alpha * (dmass / n + contrib)
    np.testing.assert_allclose(got, r, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-9


@pytest.mark.parametrize(
    "arcs",
    [
        [(0, 1, 0.4), (0, 2, 0.6), (1, 2, 1.0), (2, 0, 2.0)],
        [(0, 1, 0.0), (1, 0, 1.0)],
    ],
    ids=["fractional", "zero_out_weight"],
)
def test_weighted_fractional_weights_vs_numpy(spark, arcs):
    """Weights count as given, not truncated; a node whose out-weights
    sum to 0 is dangling and sends nothing."""
    from webgraph_spark.algos.pagerank import pagerank_weighted

    n, iters = 1 + max(max(s, d) for s, d, _ in arcs), 6
    df = spark.createDataFrame(arcs, "src long, dst long, label double")
    res = pagerank_weighted(df, fixed_iterations=iters)
    adj = np.zeros((n, n))
    for s, d, w in arcs:
        adj[s, d] += w
    np.testing.assert_allclose(
        _ranks_array(res, n), pagerank_numpy_fixed(adj, iters), atol=1e-12
    )


# ----------------------------------------------- warm-start / incremental

def test_warm_start_same_fixpoint_fewer_iterations(spark):
    from pyspark.sql import functions as F

    n, p, seed = 60, 0.08, 11
    e = erdos_renyi(spark, n, p, seed=seed)
    cold = pagerank(e, tol=1e-8, max_iter=200)
    # perturb: add a handful of new arcs (including a new node n)
    extra = spark.createDataFrame(
        [(0, 7), (3, 41), (n - 1, 0), (5, 60)], "src long, dst long"
    )
    e2 = e.unionByName(extra).distinct()
    cold2 = pagerank(e2, tol=1e-8, max_iter=200)
    warm = pagerank(e2, tol=1e-8, max_iter=200, init_ranks=cold.ranks)
    assert warm.converged and cold2.converged
    assert warm.iterations < cold2.iterations, (
        warm.iterations, cold2.iterations
    )
    a = {r["node"]: r["rank"] for r in cold2.ranks.collect()}
    b = {r["node"]: r["rank"] for r in warm.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-6
    # mass conserved
    m = warm.ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(m - 1.0) < 1e-9


def test_trustrank_trust_confined_to_reachable_set(spark):
    """Two directed clusters, no arcs between them: trust restarts on
    seeds picked by inverse PR, so nodes unreachable from every seed
    must score exactly p(v)*(1-alpha) terms only -> 0 for non-seeds of
    the other cluster; total mass stays 1."""
    from webgraph_spark.algos.pagerank import trustrank

    # cluster A: 0..9 ring with chords; cluster B: 100..109 ring
    arcs = [(i, (i + 1) % 10) for i in range(10)]
    arcs += [(i, (i + 3) % 10) for i in range(10)]
    arcs += [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    out = {r["node"]: r["trust"] for r in
           trustrank(edges, n_seeds=3, inv_iters=4, iters=10).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    # seeds all come from one side (inverse PR is symmetric across the
    # two rings up to tie-break, which prefers small node ids -> A)
    a_mass = sum(v for n, v in out.items() if n < 100)
    b_mass = sum(v for n, v in out.items() if n >= 100)
    assert a_mass > 0.999 and b_mass < 1e-9


# ------------------------------------- one kernel, three entry points

def _run_wrapper(spark, which, arcs, seeds=(), iters=6):
    from webgraph_spark.algos.pagerank import (
        pagerank_weighted,
        personalized_pagerank,
    )

    df = spark.createDataFrame(arcs, "src long, dst long, label long")
    if which == "pagerank":
        return pagerank(df.select("src", "dst"), fixed_iterations=iters)
    if which == "ppr":
        s = spark.createDataFrame([(v,) for v in seeds], "node long")
        return personalized_pagerank(
            df.select("src", "dst"), s, fixed_iterations=iters
        )
    return pagerank_weighted(df, fixed_iterations=iters)


SELF_LOOPS = [(i, i, i + 1) for i in range(4)]
HUB_STAR = [(0, i, i) for i in range(1, 7)]  # leaves are dangling


@pytest.mark.parametrize("which", ["pagerank", "ppr", "weighted"])
@pytest.mark.parametrize(
    "arcs", [SELF_LOOPS, HUB_STAR], ids=["self_loops", "hub_star"]
)
def test_degenerate_graphs_vs_numpy(spark, which, arcs):
    n = 1 + max(max(s, d) for s, d, _ in arcs)
    seeds = (0, 2)
    res = _run_wrapper(spark, which, arcs, seeds=seeds)
    adj = np.zeros((n, n))
    for s, d, w in arcs:
        adj[s, d] += w if which == "weighted" else 1.0
    pref = None
    if which == "ppr":
        pref = np.zeros(n)
        pref[list(seeds)] = 1.0 / len(seeds)
    want = pagerank_numpy_fixed(adj, iters=6, pref=pref)
    got = _ranks_array(res, n)
    assert res.ranks.count() == n
    np.testing.assert_allclose(got, want, atol=1e-12)
    assert abs(got.sum() - 1.0) < 1e-12


def test_ppr_seed_set_deduplicated_and_restricted_to_graph(spark):
    """Duplicate seeds count once and seeds outside the graph are
    dropped, so every node is one row and total mass stays 1."""
    arcs = [(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 1)]
    res = _run_wrapper(spark, "ppr", arcs, seeds=(0, 0, 99))
    rows = res.ranks.collect()
    assert sorted(r.node for r in rows) == [0, 1, 2, 3]
    adj = np.zeros((4, 4))
    for s, d, _ in arcs:
        adj[s, d] = 1.0
    want = pagerank_numpy_fixed(adj, iters=6, pref=np.array([1.0, 0, 0, 0]))
    np.testing.assert_allclose(_ranks_array(res, 4), want, atol=1e-12)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-12
    # no seed left in the graph: empty result
    assert _run_wrapper(spark, "ppr", arcs, seeds=(99,)).ranks.count() == 0


@pytest.mark.parametrize("which", ["pagerank", "ppr", "weighted"])
def test_empty_graph_releases_persisted_frames(spark, which):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = _run_wrapper(spark, which, [], seeds=(0,))
    assert res.ranks.count() == 0 and res.converged
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
