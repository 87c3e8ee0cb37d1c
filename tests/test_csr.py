"""CSR pack/unpack round-trip + accounting invariants
(reference test patterns 1-2, SURVEY.md §5: compress -> reload ->
assertEquals swept over parameters; copied+intervalised+residual == arcs)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webgraph_spark.datagen.graphs import erdos_renyi, star, directed_cycle
from webgraph_spark.operators.csr import (
    arc_balanced_bounds,
    csr_stats,
    pack_csr,
    successors,
    unpack_csr,
)
from webgraph_spark.operators.transforms import graphs_equal


@pytest.mark.parametrize(
    "n,p,seed,blocks",
    [(50, 0.1, 1, 1), (50, 0.1, 1, 4), (200, 0.05, 2, 8), (30, 0.3, 3, 16)],
)
def test_roundtrip_er(spark, n, p, seed, blocks):
    g = erdos_renyi(spark, n, p, seed=seed)
    packed = pack_csr(g, num_blocks=blocks)
    assert graphs_equal(unpack_csr(packed), g)


def test_roundtrip_hub_skew(spark):
    """Star graph: one node carries all arcs — the skew case."""
    g = star(spark, 500, out=True).unionByName(star(spark, 500, out=False))
    packed = pack_csr(g, num_blocks=8)
    assert graphs_equal(unpack_csr(packed), g)


def test_duplicate_arcs_collapse(spark):
    g = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 2)], "src long, dst long"
    )
    packed = pack_csr(g, num_blocks=1)
    got = sorted((r.src, r.dst) for r in unpack_csr(packed).collect())
    assert got == [(0, 1), (0, 2), (1, 2)]


def test_accounting_invariants(spark):
    g = erdos_renyi(spark, 100, 0.08, seed=4)
    packed = pack_csr(g, num_blocks=4).cache()
    stats = csr_stats(packed).toPandas()
    # sum over blocks == |arcs| (the reference's arcs bookkeeping,
    # BVGraphTest.java:66-74)
    assert stats["n_arcs"].sum() == g.distinct().count()
    pdf = packed.toPandas()
    for _, row in pdf.iterrows():
        counts = np.frombuffer(row["counts"], dtype=np.int64)
        assert counts.sum() == row["n_arcs"]
        assert len(counts) == row["n_lists"]
        srcs = np.frombuffer(row["srcs"], dtype=np.int64)
        assert (np.diff(srcs) > 0).all()  # strictly increasing sources
        gaps = np.frombuffer(row["gaps"], dtype=np.int64)
        assert (gaps >= 0).all()  # strictly increasing successor lists
    # block ranges are disjoint
    pdf = pdf.sort_values("node_lo")
    assert (pdf["node_lo"].to_numpy()[1:] > pdf["node_hi"].to_numpy()[:-1]).all()
    packed.unpersist()


def test_random_access_successors(spark):
    from webgraph_spark.datagen.graphs import erdos_renyi_numpy

    n, p, seed = 60, 0.1, 5
    g = erdos_renyi(spark, n, p, seed=seed)
    adj = erdos_renyi_numpy(n, p, seed=seed)
    packed = pack_csr(g, num_blocks=4).cache()
    for node in [0, 7, 31, 59]:
        want = sorted(np.nonzero(adj[node])[0].tolist())
        assert successors(packed, node) == want
    packed.unpersist()


def test_arc_balanced_bounds_split_hub(spark):
    """With a huge hub at node 0, bounds concentrate blocks around it."""
    hub = star(spark, 1000, out=True)  # node 0 -> 1..1000
    tail = directed_cycle(spark, 100).withColumn("src", F.col("src") + 2000).withColumn(
        "dst", F.col("dst") + 2000
    )
    g = hub.unionByName(tail.select("src", "dst"))
    bounds = arc_balanced_bounds(g, 4)
    # most arcs have src=0, so the first bound must still be 0
    assert bounds[0] == 0


def test_empty_graph(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    packed = pack_csr(empty, num_blocks=2)
    assert packed.count() == 0
    assert unpack_csr(packed).count() == 0


def test_csr_labelled_roundtrip(spark):
    """Labels ride the CSR pack as a parallel per-arc array
    (ArcLabelledImmutableGraph analog): round trip preserves
    (src, dst, weight); duplicate arcs keep the min label."""
    from webgraph_spark.operators.csr import pack_csr, unpack_csr

    rows = [(0, 1, 10), (0, 3, 30), (1, 2, 7), (0, 1, 99), (2, 0, 5), (2, 4, 4)]
    g = spark.createDataFrame(rows, "src long, dst long, weight long")
    packed = pack_csr(g, num_blocks=2, label_col="weight")
    back = sorted(
        (r.src, r.dst, r.weight)
        for r in unpack_csr(packed, label_col="weight").collect()
    )
    assert back == [(0, 1, 10), (0, 3, 30), (1, 2, 7), (2, 0, 5), (2, 4, 4)]
