"""Landmark distance sketches (distance-oracle family).

Pick the L highest-degree nodes as landmarks, BFS from all of them at
once on the symmetrized loop-free graph, and store each node's
distance vector as L int columns. ``d(u,v)`` is then estimated without
any traversal as ``min_i d(u, l_i) + d(l_i, v)`` — an upper bound that
is exact whenever a shortest path passes a landmark, the classic
landmark/ALT scheme (Goldberg-Harrelson A* landmarks, SODA 2005;
Potamias et al., "Fast shortest path distance estimation in large
networks", CIKM 2009).

Reference analog: the distance machinery family of SURVEY.md §2.10
(ParallelBreadthFirstVisit / SampleDistanceCDF — algos/bfs.py,
centrality.py). Webgraph users compute distance CDFs by sampling
sources; the landmark sketch is the companion that answers *pairwise*
queries at 100-TB scale, where per-query BFS is impossible: the sketch
is built once with L batched BFS waves (L small, e.g. 16-64) and each
estimate is a row-local array expression — no shuffle at query time.

Scale shape — BITMASK frontier, not per-source rows: all L <= 62
landmark BFS waves share ONE state row per node (seen mask + distance
array + the mask of waves that reached it last round), the same
packed-state trick as HyperBall's register file. Per round, on
``plans.iterate.iterate`` and in ONE Spark job: one co-partitioned
edges-frontier join (the frontier is ``newly != 0``), one
groupBy(node) ``bit_or`` with MAP-SIDE COMBINE (a hub receiving 10^6
messages collapses to one long per map task), one state join; the
frontier size rides on that job as an ``Observation`` and the loop
stops when it is 0. State is O(n) longs + one L-int array — NOT O(L*n)
rows; messages are O(adjacent arcs of changed nodes), and the frontier
shrinks to saturation.
(The first implementation tracked (source, node) pairs: 16x the state
rows and 871 s at 31.5M edges / 16 landmarks; the bitmask plan is the
one you'd run at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..operators.transforms import no_loops, symmetrize
from ..plans.iterate import iterate, iteration_confs

MAX_LANDMARKS = 62  # mask lives in one signed long


def top_degree_landmarks(edges: DataFrame, n_landmarks: int) -> list[int]:
    """The L max-sym-degree nodes, ties broken by min node id —
    deterministic at any parallelism (total order on (deg, node))."""
    sym = no_loops(symmetrize(edges.select("src", "dst")))
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    rows = (
        deg.orderBy(F.col("d").desc(), F.col("src").asc())
        .limit(n_landmarks)
        .collect()
    )
    return [int(r["src"]) for r in rows]


def landmark_sketch(
    edges: DataFrame,
    n_landmarks: int = 3,
    max_depth: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(node, d0, d1, ..., d{L-1}): undirected distance to each
    landmark, null when unreached within ``max_depth``. Column ``di``
    is the i-th landmark in (degree DESC, node ASC) order."""
    if n_landmarks > MAX_LANDMARKS:
        raise ValueError(
            f"n_landmarks={n_landmarks} > {MAX_LANDMARKS}: the seen-set "
            "mask is one long; shard into multiple sketches instead"
        )
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    lms = top_degree_landmarks(edges, n_landmarks)
    sym = (
        no_loops(symmetrize(edges.select("src", "dst")))
        .repartition(num_partitions, "src")
        .persist()
    )

    L = n_landmarks
    init = []
    for node in sorted(set(lms)):
        # a graph with fewer than L non-loop nodes has fewer landmarks:
        # the missing ones reach nothing (null distances)
        mask = sum(1 << i for i, l in enumerate(lms) if l == node)
        ds = [0 if i < len(lms) and lms[i] == node else None for i in range(L)]
        init.append((int(node), mask, ds, mask))
    state0 = spark.createDataFrame(
        init, "node long, seen long, ds array<int>, newly long"
    )

    def step(state: DataFrame, rnd: int):
        frontier = state.where(F.col("newly") != 0).select(
            F.col("node").alias("src"), F.col("newly").alias("mask")
        )
        msgs = (
            sym.join(frontier, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.bit_or("mask").alias("msg"))
        )
        joined = msgs.join(state.drop("newly"), "node", "full_outer").select(
            "node",
            F.coalesce("seen", F.lit(0)).alias("seen"),
            "ds",
            F.coalesce("msg", F.lit(0))
            .bitwiseAND(F.bitwise_not(F.coalesce("seen", F.lit(0))))
            .alias("newly"),
        )
        obs = Observation()
        grown = joined.select(
            "node",
            F.col("seen").bitwiseOR(F.col("newly")).alias("seen"),
            F.array(
                *[
                    F.when(
                        F.shiftright(F.col("newly"), i).bitwiseAND(1) == 1,
                        F.lit(rnd),
                    ).otherwise(F.element_at(F.col("ds"), i + 1))
                    for i in range(L)
                ]
            ).alias("ds"),
            "newly",
        ).observe(obs, F.sum((F.col("newly") != 0).cast("long")).alias("frontier"))
        return grown, {}, obs

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        state, _, _ = iterate(
            spark, state0, step, max_depth, stop=lambda m, k: not m.get("frontier")
        )
    sym.unpersist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    wide = state.select(
        "node",
        *[
            F.element_at(F.col("ds"), i + 1).cast("int").alias(f"d{i}")
            for i in range(L)
        ],
    )
    return nodes.join(wide, "node", "left")


def estimate_distances(sketch: DataFrame, pairs: DataFrame) -> DataFrame:
    """Row-local landmark estimate for (u, v) pairs:
    d_hat = min_i sk(u).di + sk(v).di over landmarks both ends reach.
    Null when no landmark covers both — the honest "unknown". No
    shuffle beyond the two sketch joins (broadcast when pairs small)."""
    dcols = [c for c in sketch.columns if c != "node"]
    su = sketch.select(
        F.col("node").alias("u"), *[F.col(c).alias(f"u_{c}") for c in dcols]
    )
    sv = sketch.select(
        F.col("node").alias("v"), *[F.col(c).alias(f"v_{c}") for c in dcols]
    )
    est = F.least(
        *[(F.col(f"u_{c}") + F.col(f"v_{c}")).cast("int") for c in dcols]
    )
    return (
        pairs.join(su, "u").join(sv, "v")
        .select("u", "v", est.alias("d_hat"))
    )
