"""Exact diameter / radius via SumSweep bounds refinement.

Reference analogs:
- SumSweepDirectedDiameterRadius.java:44-80 — alternating forward /
  backward BFS sweeps from carefully chosen pivots maintain per-node
  eccentricity bounds; the algorithm certifies the exact diameter and
  radius after (in practice) a handful of sweeps instead of n BFSs.
- FourSweepIterativeFringeDiameter.java — the undirected 4-sweep +
  iFUB variant (``four_sweep_ifub`` below).

Spark shape: every sweep is one :func:`webgraph_spark.algos.bfs.bfs`
(level-synchronous frontier joins — the per-level shuffle is the only
data movement); the per-node bound state is a small (node, lb, ub)
DataFrame updated by co-partitioned joins, never collected. Pivot
selection is a 1-row ``orderBy(...).limit(1)`` job. At 100 TB the cost
is (#sweeps) x (diameter) shuffle rounds over the frontier — the same
reason the reference replaces n BFSs with sweeps applies verbatim.

Semantics: eccentricity is over *reachable* nodes (matching
``algos.bfs.eccentricity``). The directed bound
``eccF(v) <= d(v, w) + eccF(w)`` requires every node reachable from v
to be reachable from w, which holds when the graph is strongly
connected — the certified-exact directed path therefore requires strong
connectivity (checked via algos.scc when ``check_connectivity``), as
the reference's directed machinery similarly special-cases by SCC
structure. For non-strongly-connected graphs ``sum_sweep_directed``
still returns certified *lower* bounds plus the heuristic estimate,
flagged ``certified=False``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .bfs import bfs
from ..operators.transforms import symmetrize, transpose
from ..plans.iterate import eager_checkpoint, iteration_confs, release_local_checkpoint


@dataclass
class DiameterResult:
    diameter: int
    radius: int | None
    certified: bool
    sweeps: int  # number of BFS runs executed


def _ecc_and_dists(edges: DataFrame, pivot: int):
    """Forward BFS from pivot: (distances DF, exact forward ecc)."""
    res = bfs(edges, [pivot])
    ecc = res.distances.agg(F.max("dist")).collect()[0][0] or 0
    return res.distances, int(ecc)


def _argmax(df: DataFrame, col: str) -> tuple[int, int]:
    row = df.orderBy(F.desc(col), "node").limit(1).collect()[0]
    return int(row["node"]), int(row[col])


def four_sweep_ifub(edges: DataFrame, max_bfs: int = 100) -> DiameterResult:
    """Exact *undirected* diameter: 4-sweep lower bound + iFUB.

    FourSweepIterativeFringeDiameter.java analog. The graph is
    symmetrized; the 4-sweep picks a far pair and a midpoint r, then
    iFUB runs BFS from fringe nodes in decreasing distance-from-r order
    until the certified upper bound 2*(level-1) falls to the running
    lower bound — exact with (usually) a handful of BFSs.
    """
    spark = edges.sparkSession
    with iteration_confs(spark):
        return _four_sweep_ifub(edges, max_bfs)


def _four_sweep_ifub(edges: DataFrame, max_bfs: int) -> DiameterResult:
    # AQE pinned off for the sweep loop (iteration_confs): Spark 4's
    # localCheckpoint-under-AQE compounds plan/stats strings across
    # rounds until the driver OOMs building explain trees
    g = symmetrize(edges).persist()
    sweeps = 0

    # sweep 1: from an arbitrary (min-id) node to a farthest node a1
    start = int(
        g.select(F.col("src").alias("node")).agg(F.min("node")).collect()[0][0]
    )
    d0, _ = _ecc_and_dists(g, start)
    a1, _ = _argmax(d0, "dist")
    sweeps += 1
    # sweep 2: a1 -> b1 (ecc(a1) is a diameter lower bound)
    d1, ecc_a1 = _ecc_and_dists(g, a1)
    b1, _ = _argmax(d1, "dist")
    lb = ecc_a1
    sweeps += 1
    # midpoint of the a1-b1 path: node at distance ~ecc/2 from a1
    r1 = int(
        d1.where(F.col("dist") == ecc_a1 // 2).orderBy("node").limit(1)
        .collect()[0]["node"]
    )
    # sweeps 3+4: from b1 (lb refresh) and the midpoint r
    d2, ecc_b1 = _ecc_and_dists(g, b1)
    a2, _ = _argmax(d2, "dist")
    lb = max(lb, ecc_b1)
    sweeps += 1
    dr, ecc_r = _ecc_and_dists(g, r1)
    lb = max(lb, ecc_r)
    sweeps += 1

    # iFUB from r: process fringe levels top-down. Any pair with both
    # endpoints at level <= i-1 is within 2*(i-1) through r, so once
    # lb >= 2*(i-1) the running lb IS the exact diameter. Only the
    # current fringe level is ever collected to the driver.
    dr = dr.persist()
    i = ecc_r
    while i > lb / 2 and sweeps < max_bfs:
        fringe = [
            int(r["node"])
            for r in dr.where(F.col("dist") == i).orderBy("node").collect()
        ]
        for node in fringe:
            _, ecc_v = _ecc_and_dists(g, node)
            lb = max(lb, ecc_v)
            sweeps += 1
            if sweeps >= max_bfs:
                break
            if lb >= 2 * (i - 1):
                break
        if lb >= 2 * (i - 1):
            break
        i -= 1
    dr.unpersist()
    g.unpersist()
    certified = lb >= 2 * (i - 1) or i <= lb / 2
    return DiameterResult(lb, None, certified, sweeps)


def sum_sweep_directed(
    edges: DataFrame,
    max_sweeps: int | None = None,
    check_connectivity: bool = True,
    compute_radius: bool = True,
) -> DiameterResult:
    """Exact directed diameter/radius on strongly connected graphs via
    SumSweep bound refinement (SumSweepDirectedDiameterRadius.java
    analog); certified lower bounds otherwise.

    Bound state (node, lbF, ubF): lbF(v) = max over backward sweeps w of
    d(v, w) (a valid eccF lower bound); ubF(v) = min over sweeps of
    d(v, w) + eccF(w). Diameter resolved when max(ubF) <= L (best exact
    ecc seen); radius when min over nodes of max(lbF, known-exact) >= R.
    """
    spark = edges.sparkSession
    with iteration_confs(spark):
        return _sum_sweep_directed(
            edges, max_sweeps, check_connectivity, compute_radius
        )


def _sum_sweep_directed(
    edges: DataFrame,
    max_sweeps: int | None,
    check_connectivity: bool,
    compute_radius: bool,
) -> DiameterResult:
    e = edges.select("src", "dst").distinct().persist()
    et = transpose(e).persist()

    strongly_connected = True
    if check_connectivity:
        from .scc import scc_coloring

        labels = scc_coloring(e)
        strongly_connected = (
            labels.select("scc").distinct().limit(2).count() == 1
        )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # bounds start unbounded; n is a safe finite stand-in for +inf
    n = nodes.count()
    if max_sweeps is None:
        # worst case one probe per node (cycle-like graphs where every
        # ecc is equal); real graphs certify in a handful of sweeps
        max_sweeps = 3 * n + 10
    bounds = nodes.select(
        "node", F.lit(0).alias("lbF"), F.lit(2 * n).alias("ubF")
    ).localCheckpoint(eager=True)

    L = 0  # certified diameter lower bound (max exact ecc seen)
    R = None  # best exact ecc seen (radius upper bound)
    r_node = None
    sweeps = 0
    exact_ecc: dict[int, int] = {}

    # SumSweep phase: alternate fwd/bwd sweeps from the node with the
    # largest current ubF (fwd) / largest distance sum (bwd heuristic)
    pivot = int(nodes.agg(F.min("node")).collect()[0][0])
    while sweeps < max_sweeps:
        # ---- forward sweep from pivot: exact eccF(pivot)
        dF, eccP = _ecc_and_dists(e, pivot)
        sweeps += 1
        exact_ecc[pivot] = eccP
        L = max(L, eccP)
        if compute_radius and (R is None or eccP < R):
            R, r_node = eccP, pivot

        # ---- backward sweep from the farthest node w found forward:
        # distances INTO w refine every node's lbF and ubF
        w, _ = _argmax(dF, "dist")
        dB = bfs(et, [w]).distances  # d(v, w) in original orientation
        sweeps += 1
        _, eccW = _ecc_and_dists(e, w)
        sweeps += 1
        exact_ecc[w] = eccW
        L = max(L, eccW)
        if compute_radius and eccW < R:
            R, r_node = eccW, w

        # fold the exactly-known eccentricities into the bound frame so
        # swept nodes are closed (lbF = ubF = ecc) and never re-picked
        exact_map = F.create_map(
            *[F.lit(x) for kv in exact_ecc.items() for x in kv]
        )
        newb = eager_checkpoint(
            bounds.join(dB.withColumnRenamed("dist", "dvw"), "node", "left")
            .select(
                "node",
                F.coalesce(
                    exact_map[F.col("node")],
                    F.greatest("lbF", F.coalesce("dvw", F.lit(0))),
                ).alias("lbF"),
                F.coalesce(
                    exact_map[F.col("node")],
                    F.when(
                        F.col("dvw").isNotNull(),
                        F.least("ubF", F.col("dvw") + F.lit(eccW)),
                    ).otherwise(F.col("ubF")),
                ).alias("ubF"),
            )
        )
        # sweep k-1's bound frame is garbage once sweep k materialized;
        # the loop can run O(n) sweeps (cycle-like graphs), so retained
        # checkpoints would grow storage linearly in sweeps
        release_local_checkpoint(bounds)
        bounds = newb

        if strongly_connected:
            # diameter certified when no node's upper bound exceeds L
            open_row = (
                bounds.where(F.col("ubF") > L)
                .orderBy(F.desc("ubF"), "node")
                .limit(1)
                .collect()
            )
            if open_row:
                pivot = int(open_row[0]["node"])
                continue
            # ---- diameter closed; resolve the radius with BATCHED
            # forward probes from the most promising candidates
            # (smallest lbF first). Up to 4 candidates share ONE
            # multi-source BFS, so the driver pays one candidate collect
            # + one BFS loop per batch instead of per probe. Processing
            # the batch in (lbF, node) order makes the R/L updates
            # exact-equivalent to sequential probing: any candidate a
            # sequential run would have skipped (its lbF >= the lowered
            # R) has ecc >= lbF >= R and cannot change R, and ecc <= L
            # always (diameter already certified), so extra probes are
            # wasted work only — amortized away by the shared BFS.
            while compute_radius and sweeps < max_sweeps:
                batch_cap = min(4, max_sweeps - sweeps)
                cands = (
                    bounds.where(
                        (F.col("lbF") < R)
                        & ~F.col("node").isin(list(exact_ecc.keys()))
                    )
                    .orderBy("lbF", "node")
                    .limit(batch_cap)
                    .collect()
                )
                if not cands:
                    break
                batch = [int(r["node"]) for r in cands]
                from .centrality import multi_source_bfs

                eccs = {
                    int(r["source"]): int(r["ecc"])
                    for r in multi_source_bfs(e, batch)
                    .groupBy("source")
                    .agg(F.max("dist").alias("ecc"))
                    .collect()
                }
                sweeps += len(batch)
                for c_node in batch:
                    ecc_c = eccs[c_node]
                    exact_ecc[c_node] = ecc_c
                    L = max(L, ecc_c)
                    if ecc_c < R:
                        R, r_node = ecc_c, c_node
            radius_open = compute_radius and not bounds.where(
                (F.col("lbF") < R)
                & ~F.col("node").isin(list(exact_ecc.keys()))
            ).isEmpty()
            if not radius_open:
                e.unpersist()
                et.unpersist()
                nodes.unpersist()
                return DiameterResult(L, R, True, sweeps)
        else:
            # not strongly connected: bounds are not certifiable; run
            # the heuristic sweeps and return flagged-uncertified
            nxt, _ = _argmax(dB, "dist")
            if nxt == pivot:
                break
            pivot = nxt
            if sweeps >= min(max_sweeps, 9):
                break

    e.unpersist()
    et.unpersist()
    nodes.unpersist()
    return DiameterResult(L, R, False, sweeps)
