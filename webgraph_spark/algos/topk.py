"""Top-k geometric centralities with BFS pruning (CutClos).

Reference: algo/TopKGeometricCentrality.java:80-222 implements the
CutClos algorithm (Borassi-Crescenzi-Marino, "Fast and Simple
Computation of Top-k Closeness Centralities", 2015): per-source BFS
visits that are CUT as soon as a centrality upper bound proves the
source cannot beat the current k-th best; sources are processed in
descending outdegree order (:390-391, :543-548) so high kth values are
established early, and per-node reachability bounds come from a DP over
the SCC condensation (:423-508).

Spark shape: sources run in BATCHES as one frontier DataFrame keyed by
(source, node) — the multi-source BFS of algos/centrality.py — with the
per-source scalar state (visited count, distance sum, frontier degree
sum) maintained driver-side from one tiny per-level aggregate
(<= batch_size rows collected per level). The cut happens at LEVEL
granularity: after discovering level d, the reference's bound
(TopKGeometricCentrality.java:148-164)

    harmonic:     ub = sumDist + gamma/(d+1) + (reachU - gamma - nnVis)/(d+2)
    exponential:  ub = sumDist + gamma*a^(d+1) + (reachU - gamma - nnVis)*a^(d+2)
    lin:          lb(1/lin) = (sumDist - gamma + (d+2)(r - nnVis))/r^2
                  evaluated at r = reachL and r = reachU (convex in r)

prunes a source out of the frontier — the batched BFS sheds (source, *)
rows, so the distributed work shrinks exactly where the reference's
per-thread visit would have returned. gamma = sum of outdegrees of the
level-d frontier (every undiscovered node at distance d+1 is an
out-neighbour of level d, so at most gamma of them exist).

Reachability bounds: reachU[v] (and reachL[v] for Lin) via the
reference's DP over the SCC condensation. The condensation DAG is
collected to the driver (gated by ``scc_max`` — web-graph condensations
are orders of magnitude smaller than the graph; beyond the gate the
trivial bounds reachU = n / reachL = 1 keep the algorithm correct,
just with weaker cuts).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import eager_checkpoint, release_local_checkpoint


@dataclass
class TopKResult:
    top_k: list  # [(node, centrality)] descending centrality
    visited_pairs: int  # total (source, node) BFS discoveries performed
    completed: int  # sources whose exact centrality was computed
    cut: int  # sources pruned by the bound

    def to_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            [(int(v), float(c)) for v, c in self.top_k],
            "node long, centrality double",
        )


def _condensation_bounds(edges: DataFrame, n: int, scc_max: int):
    """Per-node reach bounds ``(node, rl, ru)`` DataFrame via the
    reference's condensation DP (TopKGeometricCentrality.java:423-508):
    uReach[c] = min(n, size[c] + sum over successor components) — an upper
    bound because shared descendants are counted once per path; lReach[c] =
    size[c] + max over successors — a lower bound because one successor's
    lower bound is fully reachable. Returns None past the ``scc_max`` gate.

    Driver state is bounded by the gate: the DP dicts, the component
    sizes, and the condensation arcs are all scc-sized (``n_scc <=
    scc_max``); the node→scc map stays distributed — the scc-sized
    bounds are broadcast-joined back onto it, never collected.
    """
    from .scc import scc_coloring

    comp = scc_coloring(edges).persist()
    n_scc = comp.select("scc").distinct().count()
    if n_scc > scc_max:
        comp.unpersist()
        return None
    sizes = {
        r["scc"]: r["cnt"]
        for r in comp.groupBy("scc").agg(F.count("*").alias("cnt")).collect()
    }
    cedges = (
        edges.join(comp.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("scc", "cs")
        .join(comp.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("scc", "cd")
        .where(F.col("cs") != F.col("cd"))
        .select("cs", "cd")
        .distinct()
        .collect()
    )
    succ: dict[int, list[int]] = {c: [] for c in sizes}
    indeg = {c: 0 for c in sizes}
    for r in cedges:
        succ[r["cs"]].append(r["cd"])
        indeg[r["cd"]] += 1
    # Kahn topological order, then DP in reverse order
    order = [c for c in sizes if indeg[c] == 0]
    i = 0
    while i < len(order):
        for d in succ[order[i]]:
            indeg[d] -= 1
            if indeg[d] == 0:
                order.append(d)
        i += 1
    reach_u = {}
    reach_l = {}
    for c in reversed(order):
        u = sizes[c] + sum(reach_u[d] for d in succ[c])
        reach_u[c] = min(n, u)
        reach_l[c] = sizes[c] + max((reach_l[d] for d in succ[c]), default=0)
    spark = edges.sparkSession
    rdf = spark.createDataFrame(
        [(int(c), int(reach_l[c]), int(reach_u[c])) for c in sizes],
        "scc long, rl long, ru long",
    )
    bounds_df = (
        comp.join(F.broadcast(rdf), "scc")
        .select("node", "rl", "ru")
        .localCheckpoint(eager=True)
    )
    comp.unpersist()
    return bounds_df


def top_k_geometric(
    edges: DataFrame,
    k: int,
    centrality: str = "harmonic",
    alpha: float = 0.5,
    batch_size: int = 256,
    num_partitions: int | None = None,
    scc_max: int = 1_000_000,
    max_rounds: int = 10_000,
) -> TopKResult:
    """k most central nodes under positive harmonic / exponential / Lin
    centrality (pass the transpose for the usual negative versions, as
    the reference requires — TopKGeometricCentrality.java:53-56)."""
    if centrality not in ("harmonic", "exponential", "lin"):
        raise ValueError(f"unknown centrality {centrality!r}")
    if centrality == "exponential" and not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be strictly between 0 and 1")
    if k <= 0:
        raise ValueError("k must be positive")
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
    from ..operators.degrees import out_degrees

    deg = out_degrees(e, include_zero_for=nodes).persist()
    n = deg.count()
    k = min(k, n)

    bounds = _condensation_bounds(e, n, scc_max)

    # one distributed sort assigns every node a descending-degree batch id
    # (the reference's countingSort + currentV-- schedule, :390-548);
    # each batch is then a tiny filter off this persisted table.
    from ..util.ids import assign_dense_ids

    ranked = assign_dense_ids(
        deg.select("node", (-F.col("outdeg")).alias("negdeg")),
        ["negdeg", "node"],
        id_col="rank",
        num_partitions=num_partitions,
    )
    batched = ranked.select(
        "node", (F.col("rank") / batch_size).cast("long").alias("batch")
    ).persist()
    n_batches = (n + batch_size - 1) // batch_size

    deg_map_df = deg  # (node, outdeg) — joined per level for gamma

    # driver-side top-k heap of (centrality, node); kth = heap[0][0]
    heap: list[tuple[float, int]] = []
    kth = 0.0
    visited_pairs = 0
    completed = 0
    cut = 0

    def offer(node: int, value: float):
        nonlocal kth, completed
        completed += 1
        if len(heap) < k:
            heapq.heappush(heap, (value, node))
        elif value > heap[0][0]:
            heapq.heapreplace(heap, (value, node))
        if len(heap) == k:
            kth = heap[0][0]

    for b in range(n_batches):
        bsel = batched.where(F.col("batch") == b)
        if bounds is not None:
            # batch-sized collect carrying each source's reach bounds —
            # the node→scc map never reaches the driver whole.
            batch_rows = bsel.join(bounds, "node", "left").collect()
        else:
            batch_rows = bsel.collect()
        batch_nodes = [r["node"] for r in batch_rows]
        # per-source scalar state (the reference's per-thread locals)
        state: dict[int, dict] = {}
        for r in batch_rows:
            v = r["node"]
            if bounds is None:
                ru, rl = n, 1
            else:
                ru = r["ru"] if r["ru"] is not None else n
                rl = r["rl"] if r["rl"] is not None else 1
            state[v] = {"nnVis": 1, "sumDist": 0.0, "ru": ru, "rl": rl}
            visited_pairs += 1
        active = set(batch_nodes)
        src_df = spark.createDataFrame(
            [(int(v),) for v in batch_nodes], "source long"
        )
        frontier = eager_checkpoint(
            src_df.select("source", F.col("source").alias("node"))
        )
        visited = frontier
        d = 0
        while active and d < max_rounds:
            d += 1
            nxt = eager_checkpoint(
                e.join(frontier.withColumnRenamed("node", "src"), "src")
                .select("source", F.col("dst").alias("node"))
                .distinct()
                .join(visited, ["source", "node"], "left_anti")
            )
            stats = {
                r["source"]: (r["cnt"], r["gamma"])
                for r in nxt.join(deg_map_df, "node")
                .groupBy("source")
                .agg(
                    F.count("*").alias("cnt"),
                    F.sum("outdeg").alias("gamma"),
                )
                .collect()
            }
            survivors = []
            for v in list(active):
                st = state[v]
                cnt, gamma = stats.get(v, (0, 0))
                if cnt == 0:
                    # frontier exhausted: exact centrality
                    active.discard(v)
                    if centrality == "harmonic":
                        offer(v, st["sumDist"])
                    elif centrality == "exponential":
                        offer(v, st["sumDist"])
                    else:  # lin; isolated convention = 1 (java :117-118)
                        offer(
                            v,
                            st["nnVis"] ** 2 / st["sumDist"]
                            if st["sumDist"] > 0
                            else 1.0,
                        )
                    continue
                visited_pairs += cnt
                st["nnVis"] += cnt
                if centrality == "harmonic":
                    st["sumDist"] += cnt / d
                    ub = (
                        st["sumDist"]
                        + gamma / (d + 1)
                        + max(0, st["ru"] - gamma - st["nnVis"]) / (d + 2)
                    )
                    if len(heap) == k and ub <= kth:
                        active.discard(v)
                        cut += 1
                        continue
                elif centrality == "exponential":
                    st["sumDist"] += cnt * alpha**d
                    ub = (
                        st["sumDist"]
                        + gamma * alpha ** (d + 1)
                        + max(0, st["ru"] - gamma - st["nnVis"])
                        * alpha ** (d + 2)
                    )
                    if len(heap) == k and ub <= kth:
                        active.discard(v)
                        cut += 1
                        continue
                else:  # lin (java :148-151): cut when the 1/lin lower
                    # bound at BOTH reach endpoints clears 1/kth
                    st["sumDist"] += cnt * d
                    if len(heap) == k and kth > 0:
                        cleared = True
                        for r in (st["rl"], st["ru"]):
                            if r <= 0:
                                cleared = False
                                break
                            tf = (
                                st["sumDist"]
                                - gamma
                                + (d + 2) * (r - st["nnVis"])
                            ) / (r * r)
                            if tf < 1.0 / kth:
                                cleared = False
                                break
                        if cleared:
                            active.discard(v)
                            cut += 1
                            continue
                survivors.append(v)
            if not active:
                release_local_checkpoint(nxt)
                break
            # every survivor had cnt > 0, so survivors is a subset of
            # stats' sources; filter nxt only when some source was shed
            prev_visited, prev_frontier = visited, frontier
            if len(survivors) < len(stats):
                keep = spark.createDataFrame(
                    [(int(v),) for v in survivors], "source long"
                )
                frontier = eager_checkpoint(nxt.join(F.broadcast(keep), "source"))
                release_local_checkpoint(nxt)
            else:
                frontier = nxt
            # nxt was anti-joined against visited, so no duplicates
            visited = eager_checkpoint(visited.unionByName(frontier))
            # level d-1's frames are garbage once level d materialized
            release_local_checkpoint(prev_visited)
            if prev_frontier is not prev_visited:
                release_local_checkpoint(prev_frontier)
        # this batch's BFS state is garbage before the next batch starts
        release_local_checkpoint(visited)
        if frontier is not visited:
            release_local_checkpoint(frontier)
    e.unpersist()
    deg.unpersist()
    batched.unpersist()
    top = sorted(heap, key=lambda t: (-t[0], t[1]))
    return TopKResult(
        [(v, c) for c, v in top], visited_pairs, completed, cut
    )
