"""LLP ordering and personalized PageRank vs independent numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webgraph_spark.algos.llp import llp_labels, llp_permutation
from webgraph_spark.algos.labelprop import label_propagation
from webgraph_spark.algos.pagerank import personalized_pagerank
from webgraph_spark.datagen.graphs import erdos_renyi, erdos_renyi_numpy

from .oracles import pagerank_numpy_fixed


@pytest.mark.parametrize("n,p,seed", [(40, 0.08, 5), (80, 0.05, 6)])
def test_ppr_vs_numpy(spark, n, p, seed):
    edges = erdos_renyi(spark, n, p, seed=seed)
    adj = erdos_renyi_numpy(n, p, seed=seed)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(5)
    seed_ids = [r.node for r in seeds.collect()]
    res = personalized_pagerank(edges, seeds, fixed_iterations=7)
    pref = np.zeros(n)
    pref[seed_ids] = 1.0 / len(seed_ids)
    want = pagerank_numpy_fixed(adj, iters=7, pref=pref)
    got = np.zeros(n)
    pdf = res.ranks.toPandas()
    got[pdf["node"].to_numpy()] = pdf["rank"].to_numpy()
    present = adj.any(axis=1) | adj.any(axis=0)
    np.testing.assert_allclose(got[present], want[present], atol=1e-9)
    # mass conservation: restart + dangling-to-seeds keeps total at 1
    assert abs(pdf["rank"].sum() - 1.0) < 1e-9


def test_ppr_mass_localizes_near_seeds(spark):
    # two disjoint 3-cliques; seeding in one leaves the other at rank 0
    arcs = [(a, b) for a in range(3) for b in range(3) if a != b]
    arcs += [(a + 10, b + 10) for a, b in arcs]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    res = personalized_pagerank(edges, seeds, tol=1e-12, max_iter=60)
    got = {r.node: r.rank for r in res.ranks.collect()}
    assert sum(v for k, v in got.items() if k >= 10) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_llp_gamma0_matches_label_propagation(spark):
    edges = erdos_renyi(spark, 60, 0.06, seed=9)
    a = {
        (r.node, r.label)
        for r in llp_labels(edges, gamma=0.0, rounds=3).collect()
    }
    b = {
        (r.node, r.label)
        for r in label_propagation(edges, max_iter=3).labels.collect()
    }
    assert a == b


def test_llp_permutation_is_bijection_and_helps_clusters(spark):
    """On a planted 4-community graph, LLP maps nodes to a dense 0..n-1
    permutation and groups communities into contiguous target ranges."""
    rng = np.random.default_rng(3)
    arcs = []
    k, size = 4, 12
    for c in range(k):
        base = c * 1000  # scattered raw ids: natural order is shuffled
        for i in range(size):
            for j in range(size):
                if i != j and rng.random() < 0.6:
                    arcs.append((base + i * 7, base + j * 7))
    # sparse inter-community arcs
    arcs += [(0, 1000), (1000, 2000), (2000, 3000)]
    edges = spark.createDataFrame(arcs, "src long, dst long").distinct()
    _, perm = llp_permutation(edges, gammas=(0.0, 0.5), rounds=3)
    pdf = perm.toPandas()
    n = len(pdf)
    assert sorted(pdf["target"]) == list(range(n))
    # each planted community lands in one contiguous block of targets
    pdf["comm"] = pdf["node"] // 1000
    spread = pdf.groupby("comm")["target"].agg(["min", "max", "count"])
    assert ((spread["max"] - spread["min"] + 1) == spread["count"]).all()
