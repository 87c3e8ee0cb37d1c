"""Betweenness centrality (Brandes) — batched-BFS Spark implementation
+ exact numpy oracle.

Reference: BetweennessCentrality.java:44-73 runs Brandes' algorithm over
a thread pool of per-source BFS visits (unweighted graphs, directed
arcs, no normalization: BC(v) = sum over sources s != v of the
dependency delta_s(v)). The test posture mirrors the reference's
dual-implementation checks (BetweennessCentralityTest compares against
hand-computed values): ``betweenness_numpy`` is the independent exact
oracle, ``betweenness`` the distributed dataflow.

Spark shape: ALL sources run as one batched frontier keyed by
(source, node) — the same trick as algos.centrality.multi_source_bfs —
with the path-count sigma accumulated during the forward sweep, and the
dependency accumulation walked backward one distance level per job
(levels = diameter, not #sources). Exact, deterministic; all-pairs
work, so fixture-to-mid scale — the same split the reference makes
(its own implementation is O(nm) per run too).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import eager_checkpoint, release_local_checkpoint


def betweenness_numpy(edges_rows: list[tuple[int, int]], n: int) -> np.ndarray:
    """Exact Brandes on adjacency lists (directed, unweighted)."""
    adj: list[list[int]] = [[] for _ in range(n)]
    for s, d in edges_rows:
        if s != d:
            adj[int(s)].append(int(d))
    bc = np.zeros(n, dtype=np.float64)
    for s in range(n):
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=np.float64)
        dist[s] = 0
        sigma[s] = 1.0
        order: list[int] = [s]
        frontier = [s]
        while frontier:
            nxt: list[int] = []
            for v in frontier:
                for w in adj[v]:
                    if dist[w] == -1:
                        dist[w] = dist[v] + 1
                        nxt.append(w)
                        order.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            frontier = nxt
        delta = np.zeros(n, dtype=np.float64)
        radj: list[list[int]] = [[] for _ in range(n)]
        for v in range(n):
            for w in adj[v]:
                radj[w].append(v)
        for w in reversed(order):
            for v in radj[w]:
                if dist[v] == dist[w] - 1 and sigma[w] > 0:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        delta[s] = 0.0
        bc += delta
        bc[s] -= delta[s]
    return bc


def betweenness(
    edges: DataFrame,
    num_partitions: int | None = None,
    sources: DataFrame | list[int] | None = None,
    scale: float = 1.0,
) -> DataFrame:
    """(node, betweenness) — exact Brandes over all sources, batched.

    Forward sweep: one frontier DataFrame (source, node, dist, sigma)
    expanded level-synchronously for every source at once. Backward
    sweep: one job per distance level (descending), joining level-d
    dependencies to their level-(d-1) shortest-path predecessors.

    ``sources`` restricts the forward sweep to a source subset (the
    sampled-Brandes estimator path — see :func:`betweenness_sampled`);
    ``scale`` multiplies every accumulated dependency (n/|S| for the
    unbiased sampling estimator).
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(num_partitions, "src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    if sources is None:
        src_df = nodes
    elif isinstance(sources, list):
        src_df = spark.createDataFrame([(int(s),) for s in sources], "node long")
    else:
        src_df = sources.select(F.col(sources.columns[0]).alias("node"))

    # ---- forward: dist + sigma per (source, node)
    visited = eager_checkpoint(
        src_df.select(
            F.col("node").alias("source"),
            "node",
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
    )
    frontier = visited
    d = 0
    while True:
        d += 1
        expanded = (
            e.join(
                frontier.withColumnRenamed("node", "src").hint("shuffle_hash"), "src"
            )
            .groupBy("source", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = eager_checkpoint(
            expanded.join(
                visited.select("source", "node"), ["source", "node"], "left_anti"
            ).select("source", "node", F.lit(d).alias("dist"), "sigma")
        )
        if nxt.isEmpty():
            break
        prev_visited, prev_frontier = visited, frontier
        visited = eager_checkpoint(visited.unionByName(nxt))
        frontier = nxt
        # level d-1's frames are garbage once level d materialized
        release_local_checkpoint(prev_visited)
        if prev_frontier is not prev_visited:
            release_local_checkpoint(prev_frontier)
    max_d = d - 1

    # ---- backward: dependency accumulation one level at a time
    # delta rows exist for every visited pair; start at 0
    deltas = {}  # level -> DataFrame(source, node, sigma, delta)
    lvl = visited.select("source", "node", "dist", "sigma")
    deltas[max_d] = eager_checkpoint(
        lvl.where(F.col("dist") == max_d).select(
            "source", "node", "sigma", F.lit(0.0).alias("delta")
        )
    )
    for dd in range(max_d, 0, -1):
        w_level = deltas[dd]
        # predecessors v at dd-1 with arc v->w: contribution
        # sigma_v / sigma_w * (1 + delta_w)
        v_level = lvl.where(F.col("dist") == dd - 1).select(
            "source", "node", "sigma"
        )
        contrib = (
            w_level.join(
                e.select(F.col("src").alias("pred"), F.col("dst").alias("node")),
                "node",
            )
            .select(
                "source",
                F.col("pred").alias("node"),
                ((1.0 + F.col("delta")) / F.col("sigma")).alias("w_term"),
            )
            .groupBy("source", "node")
            .agg(F.sum("w_term").alias("t"))
        )
        deltas[dd - 1] = eager_checkpoint(
            v_level.join(contrib, ["source", "node"], "left").select(
                "source",
                "node",
                "sigma",
                (F.coalesce("t", F.lit(0.0)) * F.col("sigma")).alias("delta"),
            )
        )
    all_delta = None
    for dd, df in deltas.items():
        part = df.select("source", "node", "delta")
        all_delta = part if all_delta is None else all_delta.unionByName(part)
    out = (
        all_delta.where(F.col("source") != F.col("node"))
        .groupBy("node")
        .agg((F.sum("delta") * F.lit(float(scale))).alias("betweenness"))
    )
    result = nodes.join(out, "node", "left").select(
        "node", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
    result = eager_checkpoint(result)
    e.unpersist()
    return result


def betweenness_sampled(
    edges: DataFrame,
    n_samples: int,
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Source-sampled Brandes estimator (Brandes-Pich 2007): run the
    batched forward/backward sweeps from ``n_samples`` uniformly sampled
    sources and scale dependencies by n/|S| — an unbiased estimator of
    exact betweenness whose per-node error concentrates as
    O(n * sqrt(log n / |S|)) (Hoeffding over the bounded per-source
    dependencies). This is the path that makes betweenness usable beyond
    fixture scale: cost is O(|S| * m) instead of O(n * m), with the same
    one-frontier dataflow.

    The sample is drawn deterministically: nodes are ranked by
    xxhash64(node, seed) and the ``n_samples`` smallest are taken — the
    same sample at any parallelism level.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    ).persist()
    n = nodes.count()
    if n_samples >= n:
        nodes.unpersist()
        return betweenness(edges, num_partitions=num_partitions)
    sample = (
        nodes.orderBy(F.xxhash64("node", F.lit(seed)), "node")
        .limit(n_samples)
        .select("node")
    )
    out = betweenness(
        edges,
        num_partitions=num_partitions,
        sources=sample,
        scale=n / n_samples,
    )
    nodes.unpersist()
    return out


def linear_geometric_centrality(
    edges: DataFrame,
    coeff,
    sources: DataFrame | list[int] | None = None,
) -> DataFrame:
    """Generic distance-coefficient centrality
    (LinearGeometricCentrality.java:44-66): c(x) = sum over reachable
    y != x of coeff(d(x, y)). ``coeff(d) -> float`` is evaluated
    driver-side per distance level (distances are small integers) and
    applied as a broadcastable lookup — harmonic is coeff=1/d, the
    closeness denominator is coeff=d, exponential decay coeff=a**d."""
    from .centrality import multi_source_bfs

    spark = edges.sparkSession
    dists = multi_source_bfs(edges, sources) if sources is not None else (
        multi_source_bfs(
            edges,
            edges.select(F.col("src").alias("source"))
            .unionByName(edges.select(F.col("dst").alias("source")))
            .distinct(),
        )
    )
    max_d = dists.agg(F.max("dist")).collect()[0][0] or 0
    table = spark.createDataFrame(
        [(d, float(coeff(d))) for d in range(1, max_d + 1)], "dist int, c double"
    )
    return (
        dists.where(F.col("dist") > 0)
        .join(F.broadcast(table), "dist")
        .groupBy("source")
        .agg(F.sum("c").alias("centrality"))
    )
