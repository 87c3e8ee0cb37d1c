"""Level-synchronous parallel BFS as iterative frontier joins.

Reference: ParallelBreadthFirstVisit.java:44-110 — level-synchronous
visit with a CAS-guarded visited marker and per-level queue cutpoints.
In the Spark dataflow the job boundary IS the level barrier
(SURVEY.md §4), the CAS is replaced by deterministic distinct/anti-join
semantics, and the visited set is one DataFrame.

One kernel, :func:`_frontier_bfs`, runs every level-synchronous
reachability sweep of the engine on :func:`plans.iterate.iterate`:
ONE Spark job per level, the level's new-row count riding on it as an
``Observation``. :func:`bfs` calls it with no keys,
``centrality.multi_source_bfs`` keyed by source and the SCC pivot
sweep (``scc.scc_coloring``) keyed by color.

Returns per-node distances; eccentricity and the exact neighbourhood
function (NeighbourhoodFunction.java:70-130 — the test-scale oracle for
HyperBall) derive from them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, functions as F

from ..plans.iterate import iterate, iteration_confs


@dataclass
class BFSResult:
    distances: DataFrame  # (node: long, dist: int) — reached nodes only
    rounds: int


def _frontier_bfs(
    arcs: DataFrame,
    seeds: DataFrame,
    keys: list[str],
    max_rounds: int,
    num_partitions: int,
) -> BFSResult:
    """Keyed level-synchronous BFS: one independent sweep per key value.

    ``seeds(*keys, node)`` start at distance 0; ``arcs(src, dst)`` may
    also carry key columns, in which case a sweep only follows the arcs
    of its own key. The state is ``(*keys, node, dist)``. At level k the
    frontier is ``dist == k-1`` and the new rows are ``arcs ⋈ frontier``,
    made distinct and anti-joined against the state; their count is
    observed on the level's one job and the loop stops on 0.

    ``rounds`` is the last level that reached a new row (``k-1`` on
    convergence), or ``max_rounds`` when the loop was cut there, so a
    caller detects truncation as ``rounds >= max_rounds``.
    """
    spark = arcs.sparkSession
    on = [c for c in arcs.columns if c != "dst"]
    e = arcs.repartition(num_partitions, *on).persist()
    state0 = seeds.select(*keys, "node").distinct().withColumn("dist", F.lit(0))

    def step(state: DataFrame, k: int):
        frontier = state.where(F.col("dist") == k - 1).select(
            *keys, F.col("node").alias("src")
        )
        new = (
            e.join(frontier, on)
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
            .join(state.select(*keys, "node"), [*keys, "node"], "left_anti")
        )
        obs = Observation()
        grown = state.unionByName(new.withColumn("dist", F.lit(k))).observe(
            obs, F.sum((F.col("dist") == k).cast("long")).alias("new")
        )
        return grown, {}, obs

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        state, k, done = iterate(
            spark, state0, step, max_rounds, stop=lambda m, k: not m.get("new")
        )
    e.unpersist()
    return BFSResult(state, k - 1 if done else k)


def bfs(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_rounds: int = 10_000,
    num_partitions: int | None = None,
) -> BFSResult:
    """Multi-source BFS over directed ``edges(src, dst)``."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if isinstance(sources, list):
        sources = spark.createDataFrame([(int(s),) for s in sources], "node long")
    return _frontier_bfs(
        edges.select("src", "dst"), sources, [], max_rounds, num_partitions
    )


def eccentricity(edges: DataFrame, source: int) -> int:
    """max distance from source over reached nodes (examples/BreadthFirst)."""
    res = bfs(edges, [source])
    return res.distances.agg(F.max("dist")).collect()[0][0]


def neighbourhood_function_exact(edges: DataFrame, max_t: int = 50) -> list[int]:
    """Exact NF(t) = number of pairs (x, y) with d(x, y) <= t, computed by
    per-source BFS (NeighbourhoodFunction.java:44-49: O(n m), 'very small
    graphs only' — used as the HyperBall test oracle)."""
    nodes = [
        r["node"]
        for r in edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .collect()
    ]
    counts: dict[int, int] = {}
    for s in nodes:
        d = bfs(edges, [int(s)]).distances.groupBy("dist").count().collect()
        for row in d:
            counts[row["dist"]] = counts.get(row["dist"], 0) + row["count"]
    out = []
    acc = 0
    for t in range(0, max_t + 1):
        acc += counts.get(t, 0)
        out.append(acc)
        if t > 0 and counts.get(t, 0) == 0 and acc >= sum(counts.values()):
            break
    return out
