"""The benchmark's output checks pass on correct outputs and fail on
perturbed ones. Pure numpy/DuckDB, no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import reference as ref  # noqa: E402
import tracing  # noqa: E402


def _random_graph(seed: int, n: int = 300, m: int = 900):
    """Simple loop-free directed graph on dense ids 0..n-1, with a few
    small components besides the big one."""
    rng = np.random.default_rng(seed)
    s = rng.integers(0, n - 20, m)
    d = rng.integers(0, n - 20, m)
    tail = np.arange(n - 20, n)
    s = np.concatenate([s, tail[:-1:2]])
    d = np.concatenate([d, tail[1::2]])
    keep = s != d
    k = np.unique(s[keep] * n + d[keep])
    s, d = k // n, k % n
    assert np.array_equal(np.unique(np.r_[s, d]), np.arange(n))
    return s, d, n


@pytest.fixture(scope="module")
def graph():
    return _random_graph(1)


def _brute_adjacency(s, d, n):
    adj = np.zeros((n, n), bool)
    adj[s, d] = True
    adj |= adj.T
    np.fill_diagonal(adj, False)
    return adj


# --------------------------------------------------------------- references


@pytest.mark.parametrize("seed", range(8))
def test_references_match_brute_force(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 30))
    s, d = rng.integers(0, n, 80), rng.integers(0, n, 80)
    adj = _brute_adjacency(s, d, n)
    tri = sum(
        adj[i, j] and adj[j, k] and adj[i, k] for i, j, k in itertools.combinations(range(n), 3)
    )
    assert ref.triangle_reference(s, d) == tri

    lab = np.arange(n)
    while True:
        new = np.array([min([lab[i], *lab[np.flatnonzero(adj[i])]]) for i in range(n)])
        if np.array_equal(new, lab):
            break
        lab = new
    assert np.array_equal(ref.min_label_components(s, d, n), lab)

    labels, rounds = np.arange(n), 0
    for rounds in range(1, 5):
        new = labels.copy()
        for v in range(n):
            nbrs = np.flatnonzero(adj[:, v])
            if len(nbrs):
                vals, cnt = np.unique(labels[nbrs], return_counts=True)
                new[v] = vals[cnt == cnt.max()].min()
        if np.array_equal(new, labels):
            break
        labels = new
    got, got_rounds = ref.label_propagation_reference(s, d, n, 4)
    assert np.array_equal(got, labels) and got_rounds == rounds


def test_transcript_counts_follow_graph_definition(tmp_path):
    # conv a: 3 turns, tool x twice (one first use); conv b: 2 turns,
    # tools x and y. Arcs: seq 2+1, refs 4, first uses 3 -> 10; nodes 5+2.
    pd.DataFrame(
        {
            "conv_id": ["a", "a", "a", "b", "b"],
            "turn_idx": [0, 1, 2, 0, 1],
            "tool": [None, "x", "x", "x", "y"],
        }
    ).to_parquet(tmp_path / "t.parquet")
    assert ref.transcript_counts(str(tmp_path / "*.parquet")) == (10, 7)


# ------------------------------------------------------------------- checks


def test_ingest_check(graph):
    s, d, n = graph
    assert ref.check_ingest(s, d, len(s), n) == []
    assert ref.check_ingest(s[1:], d[1:], len(s), n)  # lost arc
    assert ref.check_ingest(np.r_[s, s[0]], np.r_[d, d[0]], len(s) + 1, n)  # duplicate
    assert ref.check_ingest(np.r_[s, 0], np.r_[d, 0], len(s) + 1, n)  # self-loop
    assert ref.check_ingest(s + 1, d + 1, len(s), n)  # ids not dense from 0


def test_pagerank_check(graph):
    s, d, n = graph
    r = ref.pagerank_reference(s, d, n)
    nodes = np.arange(n)
    assert ref.check_pagerank(nodes, r, s, d, n) == []
    stopped = ref.pagerank_reference(s, d, n, tol=ref.PAGERANK_TOL)
    assert ref.check_pagerank(nodes, stopped, s, d, n) == []  # where the stop rule lands
    bound = ref.pagerank_bound(s, d, n, r)
    moved = r.copy()
    moved[0] += 2 * bound  # mass kept, too far from the fixpoint
    moved[1] -= 2 * bound
    assert ref.check_pagerank(nodes, moved, s, d, n)
    assert ref.check_pagerank(nodes, r * (1 + 1e-6), s, d, n)  # mass
    assert ref.check_pagerank(nodes[1:], r[1:], s, d, n)  # lost node
    low = r.copy()
    low[2] = 0.1 / n
    low[3] += r[2] - low[2]
    assert any("below" in p for p in ref.check_pagerank(nodes, low, s, d, n))


def test_components_check(graph):
    s, d, n = graph
    lab = ref.min_label_components(s, d, n)
    nodes = np.arange(n)
    assert ref.check_components(nodes, lab, s, d, n) == []
    bad = lab.copy()
    bad[-1] = bad[0]
    assert ref.check_components(nodes, bad, s, d, n)
    assert ref.check_components(nodes[::-1], lab, s, d, n)  # labels on wrong nodes


def test_label_propagation_check(graph):
    s, d, n = graph
    lab, rounds = ref.label_propagation_reference(s, d, n, 4)
    nodes = np.arange(n)
    assert ref.check_label_propagation(nodes, lab, rounds, s, d, n, 4) == []
    bad = lab.copy()
    bad[5] = n + 7
    assert ref.check_label_propagation(nodes, bad, rounds, s, d, n, 4)
    assert ref.check_label_propagation(nodes, lab, rounds + 1, s, d, n, 4)


def test_triangles_check(graph):
    s, d, n = graph
    t = ref.triangle_reference(s, d)
    assert t > 0
    assert ref.check_triangles(t, s, d) == []
    assert ref.check_triangles(t + 1, s, d)
    assert ref.check_triangles(t - 1, s, d)


def test_hyperball_check():
    n, m = 20_000, 30_000
    good = [n * 1.016, (n + m) * 1.021, (n + m) * 2.5]
    assert ref.check_hyperball(good, n, m) == []
    assert ref.check_hyperball([good[0], good[1], good[1] * 0.99], n, m)  # decreasing
    assert ref.check_hyperball([good[0], (n + m) * 1.2], n, m)  # NF(1) off
    assert ref.check_hyperball([n * 0.9, good[1]], n, m)  # NF(0) off
    assert ref.check_hyperball([good[0]], n, m)  # no NF(1)


def test_same_arcs_check(graph):
    s, d, _ = graph
    perm = np.random.default_rng(0).permutation(len(s))
    assert ref.check_same_arcs(s, d, s[perm], d[perm], "x") == []
    assert ref.check_same_arcs(s, d, s[1:], d[1:], "x")
    moved = d.copy()
    moved[0] = (moved[0] + 1) % (d.max() + 1)
    assert ref.check_same_arcs(s, d, s, moved, "x")


def test_fixture_arcs_from_csr():
    s, d = ref.arcs_from_csr(np.array([0, 2, 2, 3]), np.array([1, 2, 0]))
    assert s.tolist() == [0, 0, 2] and d.tolist() == [1, 2, 0]


# ------------------------------------------------------------------ tracing


def test_driver_gap_counts_time_outside_jobs():
    # phase [0, 10]; jobs cover [1, 3], [2, 4], [6, 12] -> covered 3 + 4
    assert tracing._covered([(6, 12), (1, 3), (2, 4)], 0, 10) == pytest.approx(7)
    assert tracing._covered([], 0, 10) == 0
