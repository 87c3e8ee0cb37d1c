"""Strongly connected components.

The reference computes SCCs with an iterative Tarjan DFS
(algo/StronglyConnectedComponents.java:54-66) and cross-checks it in
tests against a recursive Tarjan (test/algo/StronglyConnectedComponentsTarjan.java).
DFS is inherently sequential; SURVEY.md §2.10 scopes SCC out of the
distributed core. Two implementations are provided:

- ``scc_numpy``: iterative Tarjan on collected edges — the exact
  oracle, fixture scale only (the reference's own posture);
- ``scc_coloring``: the distributed FW-BW *coloring* algorithm
  (Orzan/Schudy family): every outer round (1) trims source/sink
  singletons to exhaustion, (2) colors every live node with the MAX
  node id that reaches it (forward max-propagation to fixpoint), then
  (3) peels ONE SCC PER COLOR CLASS simultaneously — a single batched
  backward BFS keyed by color, restricted to same-color nodes, from
  every pivot at once. Expected O(log n) outer rounds; thousands of
  small SCCs peel together instead of one pivot per round.

Every inner loop runs one Spark job per step: a trim step and a color
step each materialize one checkpoint with their count observed on it,
and the backward sweep is the keyed frontier kernel of algos/bfs.py on
``plans.iterate.iterate`` (one job per BFS level).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F

from ..plans.iterate import eager_checkpoint, iteration_confs, release_local_checkpoint
from .bfs import _frontier_bfs


def scc_numpy(edges_rows: list[tuple[int, int]], n: int) -> np.ndarray:
    """Iterative Tarjan; labels[v] = SCC id (ids are arbitrary)."""
    adj: list[list[int]] = [[] for _ in range(n)]
    for s, d in edges_rows:
        adj[int(s)].append(int(d))
    index = np.full(n, -1)
    low = np.zeros(n, dtype=np.int64)
    on_stack = np.zeros(n, dtype=bool)
    comp = np.full(n, -1)
    stack: list[int] = []
    counter = 0
    n_comp = 0
    for root in range(n):
        if index[root] != -1:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if index[w] == -1:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp[w] = n_comp
                    if w == v:
                        break
                n_comp += 1
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return comp


def scc_components_spark_oracle(edges: DataFrame) -> dict[int, int]:
    """Collect a (small) edge DataFrame and run the Tarjan oracle.
    Returns {node: scc_id}. Fixture scale only — guarded."""
    rows = edges.select("src", "dst").collect()
    if len(rows) > 2_000_000:
        raise ValueError("scc oracle is fixture-scale; use scc_coloring")
    nodes = sorted({r.src for r in rows} | {r.dst for r in rows})
    remap = {v: i for i, v in enumerate(nodes)}
    comp = scc_numpy([(remap[r.src], remap[r.dst]) for r in rows], len(nodes))
    return {v: int(comp[remap[v]]) for v in nodes}


def scc_coloring(
    edges: DataFrame, max_rounds: int = 50, max_inner: int = 10_000
) -> DataFrame:
    """Distributed SCC via FW-BW coloring. Returns (node, scc); scc
    labels are representative node ids. Raises RuntimeError if
    ``max_rounds`` outer rounds exhaust before every node is assigned
    (a silently partial labeling is never returned)."""
    spark = edges.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def _swap(new_df: DataFrame, old: DataFrame) -> DataFrame:
        """Checkpoint the successor state, then free the predecessor's
        blocks — the trim/color/BFS loops below can run O(n) iterations
        (layer-peeling on path-like DAGs), so retaining every round's
        checkpoint grows storage linearly in rounds."""
        out = eager_checkpoint(new_df)
        release_local_checkpoint(old)
        return out

    e_all = eager_checkpoint(edges.select("src", "dst").distinct())
    remaining = e_all
    live = eager_checkpoint(
        e_all.select(F.col("src").alias("node"))
        .unionByName(e_all.select(F.col("dst").alias("node")))
        .distinct()
    )
    assigned = spark.createDataFrame([], "node long, scc long")

    def drop_assigned(batch: DataFrame):
        nonlocal live, remaining
        live = _swap(live.join(batch.select("node"), "node", "left_anti"), live)
        remaining = _swap(
            remaining.join(
                batch.select(F.col("node").alias("src")), "src", "left_anti"
            ).join(batch.select(F.col("node").alias("dst")), "dst", "left_anti"),
            remaining,
        )

    with iteration_confs(spark):
        for _ in range(max_rounds):
            if live.isEmpty():
                break
            # ---- 1) trim source/sink singletons to exhaustion: a live
            # node with no out-arc or no in-arc among remaining edges is
            # its own SCC; peeling exposes more, so iterate
            while True:
                srcs = remaining.select(F.col("src").alias("node")).distinct()
                dsts = remaining.select(F.col("dst").alias("node")).distinct()
                obs = Observation()
                trivial = eager_checkpoint(
                    live.join(srcs, "node", "left_anti")
                    .unionByName(live.join(dsts, "node", "left_anti"))
                    .distinct()
                    .select("node", F.col("node").alias("scc"))
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                )
                if obs.get["n"] == 0:
                    break
                assigned = _swap(assigned.unionByName(trivial), assigned)
                drop_assigned(trivial)
                release_local_checkpoint(trivial)
            if live.isEmpty():
                break

            # ---- 2) color every node with the max node id that reaches
            # it (forward max-propagation to fixpoint, changed-count as
            # an Observation on the materializing action)
            colors = eager_checkpoint(live.select("node", F.col("node").alias("color")))
            for _k in range(max_inner):
                msgs = (
                    remaining.join(
                        colors.withColumnRenamed("node", "src").hint("shuffle_hash"),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.max("color").alias("mx"))
                )
                obs = Observation()
                new_colors = (
                    colors.join(msgs.hint("shuffle_hash"), "node", "left")
                    .select(
                        "node",
                        F.col("color").alias("_old"),
                        F.greatest(
                            F.col("color"), F.coalesce("mx", F.col("color"))
                        ).alias("color"),
                    )
                    .observe(
                        obs,
                        F.sum(
                            F.when(F.col("color") != F.col("_old"), 1).otherwise(0)
                        ).alias("changed"),
                    )
                    .select("node", "color")
                )
                colors = _swap(new_colors, colors)
                if obs.get.get("changed", 1) == 0:
                    break

            # ---- 3) one batched backward BFS from ALL pivots at once
            # (pivot of color class c is node c itself), restricted to
            # same-color nodes: SCC(c) = {v : color(v)=c, v reaches c}.
            # Keyed by color over the reversed arcs whose two ends share
            # a color (valid: any node on a backward path from a color-c
            # node to c is in SCC(c), and every frontier node carries
            # its key's color)
            c_src = colors.select(F.col("node").alias("src"), "color")
            c_dst = colors.select(
                F.col("node").alias("dst"), F.col("color").alias("c2")
            )
            rev = (
                remaining.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .join(c_src, "src")
                .join(c_dst, "dst")
                .where(F.col("c2") == F.col("color"))
                .select("color", "src", "dst")
            )
            pivots = colors.where(F.col("node") == F.col("color"))
            visited = _frontier_bfs(
                rev, pivots, ["color"], max_inner, num_partitions
            ).distances
            release_local_checkpoint(colors)
            sccs = visited.select("node", F.col("color").alias("scc"))
            assigned = _swap(assigned.unionByName(sccs), assigned)
            drop_assigned(sccs)
            release_local_checkpoint(visited)

    if not live.isEmpty():
        raise RuntimeError(
            f"scc_coloring did not converge within max_rounds={max_rounds}; "
            "increase max_rounds (a partial labeling is never returned)"
        )
    e_all.unpersist()
    return assigned
