"""Power-iteration PageRank as an iterative DataFrame job.

Mandated by BASELINE.json north_rule (the reference's companion LAW
library computes PageRank on the same BVGraph primitives; see SURVEY.md
§2.10). The rank family is one recurrence — PageRank with a transition
matrix and a preference vector, as in LAW's ``PageRank
--preferenceVector`` — run by ONE synchronous kernel,
``_power_iteration``, behind three entry points:

- :func:`pagerank`: uniform preference, transition 1/outdeg, dangling
  mass redistributed uniformly — matching ``numpy``/``networkx`` power
  iteration, allclose 1e-6 at convergence; optional warm start;
- :func:`personalized_pagerank`: preference uniform on a seed set,
  dangling mass restarts to the seeds;
- :func:`pagerank_weighted`: transition proportional to arc weight.

Each entry point only builds its initial state; the kernel owns the
loop and the lifetime of the persisted inputs. :func:`trustrank` is
two kernel runs. :func:`pagerank_fused` is separate on purpose: it
iterates the leaked-mass recurrence and normalizes at the end.

Scale design (SURVEY.md §4 physical decisions):
- out-degree is denormalized into the edge table ONCE (reference analog:
  offsets/outdegree are part of the stored graph, BVGraph.java:858-888),
  so each iteration joins ranks to edges on ``src`` only;
- ranks are produced hash-partitioned on node id and the edge table is
  pre-partitioned on ``src``, so the rank×edge join needs no extra
  exchange — the only shuffle per iteration is the ``groupBy(dst)``
  aggregation, whose map-side partial aggregation collapses hub-dst
  skew; an optional explicit two-level salted aggregation is available
  for extreme hubs (north_rule's "explicit salting");
- **one Spark job per iteration**: dangling mass and the L-inf
  convergence delta are Observation metrics on the materializing action
  (the dangling mass observed while writing iteration k feeds the
  teleport base of iteration k+1 analytically);
- iteration state flows through plans.iterate: durable per-iteration
  parquet checkpoints + per-partition lineage rows when
  ``checkpoint_dir`` is set (resumable mid-run), else eager local
  checkpoints for lineage truncation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, functions as F

from ..plans.iterate import iterate, iteration_confs


@dataclass
class PageRankResult:
    ranks: DataFrame  # (node: long, rank: double)
    iterations: int
    converged: bool
    delta: float  # final L-inf delta


def _prepare(
    edges: DataFrame, num_partitions: int | None, weight_col: str | None = None
):
    """Degree-annotated, src-partitioned edge table + flagged node set.

    With ``weight_col`` the edge table also carries the weight as ``w``
    (cast to double) and ``outdeg`` is the out-weight sum instead of the
    arc count. A node is dangling when it has no out-arcs or, weighted,
    when its out-weight sum is not positive: its arcs are dropped, so it
    sends no messages. Integer weights give the same bits as a long sum
    would, since sums of integer-valued doubles are exact below 2^53.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if weight_col is None:
        e = edges.select("src", "dst")
        out_deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    else:
        e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
        out_deg = (
            e.groupBy("src").agg(F.sum("w").alias("outdeg")).where(F.col("outdeg") > 0)
        )
    ew = e.join(out_deg, "src").repartition(num_partitions, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(out_deg.select(F.col("src").alias("node"), F.lit(0.0).alias("z")), "node", "left")
        .select("node", F.when(F.col("z").isNull(), 1.0).otherwise(0.0).alias("dang"))
        .repartition(num_partitions, "node")
        .persist()
    )
    return ew, nodes, num_partitions


def pagerank_fused(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    chain: int = 4,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "pagerank_fused",
    prepared: tuple | None = None,
) -> PageRankResult:
    """Job-fused power iteration: ``chain`` iterations per Spark job.

    The synchronous loop in :func:`pagerank` pays a fixed per-iteration
    cost (job scheduling, checkpoint/cache memcpy of the full state,
    observation round-trip) that dominates wall time whenever per-core
    compute per iteration is small — the measured Amdahl term behind the
    round-1 scaling-efficiency miss (BENCH/BASELINE.md §4). Fusion
    divides that fixed cost by ``chain`` by materializing state only at
    chain boundaries; every inner iteration is ONE co-partitioned join +
    ONE groupBy shuffle, all pipelined inside a single Spark job.

    What makes fusion possible: :func:`pagerank` needs the dangling mass
    of iteration k as a *scalar* to build iteration k+1's teleport base,
    forcing one materialization per iteration. This variant iterates the
    **leaked-mass** recurrence instead::

        s  <-  alpha * A^T D^{-1} s  +  (1 - alpha)/n      (no dangling term)

    and normalizes to sum 1 at the end. With uniform teleport and
    uniform dangling redistribution the normalized fixpoint is
    *identical* to the dangling-redistribution PageRank: writing
    sigma = sum(s*) and d the dangling indicator, the fixpoint of the
    leaked recurrence satisfies alpha * d^T s* = (1-alpha)(1-sigma),
    which is exactly the condition for s*/sigma to be the fixpoint of
    the full recurrence (verified in tests against :func:`pagerank` and
    the numpy oracle at 1e-6).  Per-iteration trajectories differ, so
    the unrolled-SQL oracle path keeps :func:`pagerank`; at convergence
    (the north rule's criterion) both agree allclose.

    State is the contribution frame ``c`` with ``s(v) = base + alpha*c(v)``
    (``base = (1-alpha)/n``; missing row = 0), so the inner recurrence
    needs no full node vector: edges LEFT-join ``c`` on src and nodes
    absent from ``c`` contribute ``base`` automatically. Durable
    checkpoints/lineage happen per chain boundary (``chain=1`` restores
    exact per-iteration durability).
    """
    spark = edges.sparkSession
    # ``prepared``: reuse (ew, nodes, num_partitions, n) from a prior
    # _prepare so benchmarks can time the steady-state loop alone; the
    # caller owns the persisted inputs' lifecycle then, and ``edges`` is
    # used only for its SparkSession — so an explicit num_partitions
    # would be silently ignored: reject the ambiguous combination.
    if prepared is not None:
        if num_partitions is not None:
            raise ValueError(
                "pass num_partitions via prepared (it already fixes the "
                "partitioning); combining both is ambiguous"
            )
        ew, nodes, P, n = prepared
    else:
        ew, nodes, P = _prepare(edges, num_partitions)
        n = nodes.count()
    if n == 0:
        return PageRankResult(
            spark.createDataFrame([], "node long, rank double"), 0, True, 0.0
        )
    base = (1.0 - alpha) / n

    def one_iter(c: DataFrame) -> DataFrame:
        # ew is persisted hash-partitioned on src; c is hash-partitioned
        # on its own key from the previous groupBy/materialization — the
        # join is exchange-free, so each fused iteration's ONLY shuffle
        # is the groupBy(dst) with map-side partial aggregation.
        msgs = ew.join(
            c.select(F.col("node").alias("src"), "contrib").hint("shuffle_hash"),
            "src",
            "left",
        ).select(
            "dst",
            (
                (F.lit(base) + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0)))
                / F.col("outdeg")
            ).alias("m"),
        )
        if salt_buckets:
            agg = (
                msgs.groupBy(
                    "dst", F.pmod(F.spark_partition_id(), F.lit(salt_buckets)).alias("_s")
                )
                .agg(F.sum("m").alias("m"))
                .groupBy("dst")
                .agg(F.sum("m").alias("contrib"))
            )
        else:
            agg = msgs.groupBy("dst").agg(F.sum("m").alias("contrib"))
        return agg.select(F.col("dst").alias("node"), "contrib")

    # c0 = 1/n on every node  =>  s0 = base + alpha/n = 1/n exactly
    c0 = nodes.select("node", F.lit(1.0 / n).alias("contrib"))
    carry: dict = {"sigma": None, "delta": float("inf")}

    def step(state: DataFrame, k: int):
        c = state.select("node", "contrib")
        for _ in range(chain):
            c = one_iter(c)
        # chain-boundary delta: full-outer against the chain's input
        # (both sides hash-partitioned on node — exchange-free join).
        # Support can only grow (to nodes with indeg>0 plus carried
        # zero-rows), so coalesce(contrib, 0) on both sides is exact.
        obs = Observation()
        joined = (
            c.join(
                state.select("node", F.col("contrib").alias("_old")), "node", "full"
            )
            .select(
                "node",
                F.coalesce(F.col("contrib"), F.lit(0.0)).alias("contrib"),
                F.coalesce(F.col("_old"), F.lit(0.0)).alias("_old"),
            )
            .observe(
                obs,
                F.sum("contrib").alias("csum"),
                F.max(F.abs(F.col("contrib") - F.col("_old"))).alias("dc"),
                F.max("contrib").alias("cmax"),
            )
        )
        # _old rides the materialized state: the stop rule's exact-delta
        # refinement aggregates over it without recomputing the chain
        return joined, {"chain": chain}, obs

    def stop(obs_metrics: dict, k: int, state: DataFrame) -> bool:
        csum = obs_metrics.get("csum", 0.0) or 0.0
        dc = obs_metrics.get("dc", float("inf"))
        cmax = obs_metrics.get("cmax", 0.0) or 0.0
        sigma_new = (1.0 - alpha) + alpha * csum
        sigma_old = carry["sigma"] if carry["sigma"] is not None else sigma_new
        s_max = base + alpha * cmax
        # |s_n/sig_n - s_o/sig_o| <= |s_n-s_o|/sig_n + s_max*|sig_n-sig_o|/(sig_n*sig_o)
        bound = (alpha * (dc if dc is not None else float("inf"))) / sigma_new + (
            s_max * abs(sigma_new - sigma_old) / (sigma_new * sigma_old)
        )
        if "_old" in state.columns and fixed_iterations is None:
            # the sigma-drift term makes the closed-form bound loose
            # (~2x extra iterations measured); replace it with the EXACT
            # normalized chain-boundary delta — one sub-second aggregate
            # over the just-materialized state (no chain recompute)
            bound = (
                state.agg(
                    F.max(
                        F.abs(
                            (F.lit(base) + F.lit(alpha) * F.col("contrib"))
                            / F.lit(sigma_new)
                            - (F.lit(base) + F.lit(alpha) * F.col("_old"))
                            / F.lit(sigma_old)
                        )
                    )
                ).collect()[0][0]
                or 0.0
            )
        carry["sigma"] = sigma_new
        carry["delta"] = bound
        if fixed_iterations is not None:
            return False
        return bound < tol

    if fixed_iterations is not None:
        n_chains = (fixed_iterations + chain - 1) // chain
    else:
        n_chains = (max_iter + chain - 1) // chain
    with iteration_confs(spark):
        state, chains_done, done = iterate(
            spark,
            c0,
            step,
            max_iter=n_chains,
            checkpoint_dir=checkpoint_dir,
            run_id=run_id,
            stop=stop,
        )
    sigma = carry["sigma"] if carry["sigma"] is not None else 1.0
    ranks = (
        nodes.join(state.hint("shuffle_hash"), "node", "left")
        .select(
            "node",
            (
                (F.lit(base) + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0)))
                / F.lit(sigma)
            ).alias("rank"),
        )
    )
    # materialize the result BEFORE dropping the inputs it derives from
    ranks = ranks.localCheckpoint(eager=True)
    if prepared is None:
        ew.unpersist()
        nodes.unpersist()
    return PageRankResult(
        ranks,
        chains_done * chain,
        done or fixed_iterations is not None,
        float(carry["delta"]),
    )


def _uniform(nodes: DataFrame, n: int) -> DataFrame:
    """Initial state 1/n on every node."""
    return nodes.select("node", F.lit(1.0 / n).alias("rank"), "dang")


def _power_iteration(
    edges: DataFrame,
    init,
    alpha: float,
    tol: float,
    max_iter: int,
    num_partitions: int | None,
    fixed_iterations: int | None,
    checkpoint_dir: str | None = None,
    run_id: str = "run",
    salt_buckets: int | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """The synchronous PageRank loop behind :func:`pagerank`,
    :func:`personalized_pagerank` and :func:`pagerank_weighted`.

    ``init(nodes, n)`` builds the initial state ``(node, rank, dang[, p])``
    from the flagged node set, or returns None for an empty result. The
    recurrence has two knobs:

    - **message** ``rank/outdeg``, or ``rank*w/outdeg`` with
      ``weight_col`` (``outdeg`` is then the out-weight sum);
    - **teleport** the scalar ``(1-α)/n + α·dmass/n`` (uniform
      preference), or the column ``p·((1-α) + α·dmass)`` when the state
      carries a preference column ``p`` — dangling mass then restarts
      to the preference vector.

    Per iteration: one co-partitioned shuffle_hash join, one
    ``groupBy(dst)``, one left join back into the state; dangling mass
    and the L∞ delta ride the materializing action as Observation
    metrics. The persisted edge and node frames are released on every
    exit, the empty graph included.
    """
    spark = edges.sparkSession
    ew, nodes, _ = _prepare(edges, num_partitions, weight_col)
    try:
        n = nodes.count()
        ranks0 = init(nodes, n) if n else None
        if ranks0 is None:
            return PageRankResult(
                spark.createDataFrame([], "node long, rank double"), 0, True, 0.0
            )
        # dang (and p) are static, but riding them in the state frame
        # keeps each iteration a single self-contained join tree
        cols = ranks0.columns
        personalized = "p" in cols
        if weight_col is None:
            msg = F.col("rank") / F.col("outdeg")
        else:
            msg = F.col("rank") * F.col("w") / F.col("outdeg")
        carry: dict = {"dmass": None, "delta": float("inf")}

        def step(ranks: DataFrame, k: int):
            if carry["dmass"] is None:
                # only on (re)start: dangling mass of the carried-in state
                carry["dmass"] = (
                    ranks.where(F.col("dang") > 0).agg(F.sum("rank")).collect()[0][0]
                    or 0.0
                )
            if personalized:
                teleport = F.col("p") * F.lit((1.0 - alpha) + alpha * carry["dmass"])
                metrics = {}
            else:
                base = (1.0 - alpha) / n + alpha * carry["dmass"] / n
                teleport = F.lit(base)
                metrics = {"base": base}

            # shuffle_hash hint: ranks are co-partitioned with ew on the
            # join key; without the hint the planner broadcast-joins the
            # rank side at small scale, rebuilding a multi-MB broadcast
            # EVERY iteration (impossible at 10^10 nodes anyway)
            contribs_in = ew.join(
                ranks.select(F.col("node").alias("src"), "rank").hint("shuffle_hash"),
                "src",
            ).select("src", "dst", msg.alias("c"))
            if salt_buckets:
                # explicit two-level salted aggregation for extreme hub
                # dst: salt by a hash of src so one hub spreads over buckets
                contribs = (
                    contribs_in.groupBy(
                        "dst", F.pmod(F.xxhash64("src"), F.lit(salt_buckets)).alias("_salt")
                    )
                    .agg(F.sum("c").alias("c"))
                    .groupBy("dst")
                    .agg(F.sum("c").alias("contrib"))
                )
            else:
                contribs = contribs_in.groupBy("dst").agg(F.sum("c").alias("contrib"))

            # fold the old rank into the state frame: the state row set IS
            # the node set, so one left join against contribs replaces a
            # nodes-join + old-rank-join pair (the state-side hash build
            # was the dominant per-iteration fixed cost)
            obs = Observation()
            new_ranks = (
                ranks.withColumnRenamed("rank", "_old")
                .join(
                    contribs.withColumnRenamed("dst", "node").hint("shuffle_hash"),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    (
                        teleport
                        + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    ).alias("rank"),
                    *cols[2:],
                    "_old",
                )
                .observe(
                    obs,
                    F.sum(F.col("rank") * F.col("dang")).alias("dmass"),
                    F.max(F.abs(F.col("rank") - F.col("_old"))).alias("delta"),
                )
                .select(*cols)
            )
            return new_ranks, metrics, obs

        def stop(obs_metrics: dict, k: int) -> bool:
            carry["dmass"] = obs_metrics.get("dmass", carry["dmass"]) or 0.0
            carry["delta"] = obs_metrics.get("delta", float("inf"))
            if fixed_iterations is not None:
                return False
            return carry["delta"] < tol

        max_it = fixed_iterations if fixed_iterations is not None else max_iter
        with iteration_confs(spark):
            state, iters, done = iterate(
                spark,
                ranks0,
                step,
                max_iter=max_it,
                checkpoint_dir=checkpoint_dir,
                run_id=run_id,
                stop=stop,
            )
        return PageRankResult(
            state.select("node", "rank"),
            iters,
            done or fixed_iterations is not None,
            float(carry["delta"]),
        )
    finally:
        ew.unpersist()
        nodes.unpersist()


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "pagerank",
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """PageRank over ``edges(src, dst)``.

    ``fixed_iterations`` runs exactly that many synchronous iterations
    with no convergence stop (used for unrolled-SQL oracle parity);
    otherwise iterate to L-inf < ``tol`` or ``max_iter``.
    ``checkpoint_dir`` enables durable resumable checkpoints + lineage.

    ``init_ranks`` (node, rank) WARM-STARTS the iteration — the
    incremental-maintenance path for a continuously-ingested graph
    (streaming/events.py): seed with the previous snapshot's converged
    ranks, new nodes default to 1/n, and the vector is renormalized to
    unit mass. Power iteration converges from any probability vector,
    so the fixpoint is identical (same tol); only the iteration count
    shrinks (tested: small edge deltas converge in a fraction of the
    cold-start rounds).
    """

    def init(nodes: DataFrame, n: int) -> DataFrame:
        if init_ranks is None:
            return _uniform(nodes, n)
        seeded = nodes.join(
            init_ranks.select("node", F.col("rank").alias("_r0")), "node", "left"
        ).select(
            "node",
            F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("rank"),
            "dang",
        )
        total = seeded.agg(F.sum("rank")).collect()[0][0] or 1.0
        return seeded.select(
            "node", (F.col("rank") / F.lit(float(total))).alias("rank"), "dang"
        )

    return _power_iteration(
        edges, init, alpha, tol, max_iter, num_partitions, fixed_iterations,
        checkpoint_dir=checkpoint_dir, run_id=run_id, salt_buckets=salt_buckets,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    fixed_iterations: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "ppr",
) -> PageRankResult:
    """Personalized (topic-sensitive) PageRank over ``edges(src, dst)``
    with restart distribution uniform on ``seeds(node)``.

    The recurrence is the reference PageRank specialization with a
    preference vector (LAW's PageRank --preferenceVector; same power
    iteration as :func:`pagerank`, SURVEY.md §2.10 mandated family):
    ``r(v) <- p(v)·((1−α) + α·dangling_mass) + α·Σ_{u→v} r(u)/outdeg(u)``
    where ``p`` is 1/|S| on seeds, 0 elsewhere — dangling mass restarts
    to the seed distribution, so total mass stays exactly 1. ``S`` is
    the set of distinct seeds that are graph nodes: duplicates count
    once and seeds outside the graph are dropped; with none left the
    result is empty.
    """

    def init(nodes: DataFrame, n: int) -> DataFrame | None:
        s = seeds.select("node").distinct().join(nodes.select("node"), "node")
        n_seeds = s.count()
        if n_seeds == 0:
            return None
        p = F.coalesce("p", F.lit(0.0))
        return nodes.join(
            s.select("node", F.lit(1.0 / n_seeds).alias("p")), "node", "left"
        ).select("node", p.alias("rank"), "dang", p.alias("p"))

    return _power_iteration(
        edges, init, alpha, tol, max_iter, num_partitions, fixed_iterations,
        checkpoint_dir=checkpoint_dir, run_id=run_id,
    )


def pagerank_weighted(
    edges: DataFrame,
    weight_col: str = "label",
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    fixed_iterations: int | None = None,
) -> PageRankResult:
    """PageRank over a labelled edge table with arc-weight-proportional
    transition probabilities: contribution of u to v is
    rank(u) * w(u,v) / W(u), W(u) = sum of u's out-weights (weights are
    cast to double, so fractional weights count as given). Dangling
    mass (nodes with no out-arcs, or a non-positive out-weight sum)
    redistributes uniformly, exactly as in :func:`pagerank`; with all
    weights equal the two agree."""
    return _power_iteration(
        edges, _uniform, alpha, tol, max_iter, num_partitions, fixed_iterations,
        weight_col=weight_col,
    )


def trustrank(
    edges: DataFrame,
    n_seeds: int = 20,
    inv_iters: int = 5,
    iters: int = 8,
    alpha: float = 0.85,
    num_partitions: int | None = None,
) -> DataFrame:
    """TrustRank (Gyongyi-Garcia-Molina-Pedersen, VLDB 2004 — the
    canonical link-spam-demotion algorithm): (1) INVERSE PageRank
    (PageRank on the transposed graph, fixed ``inv_iters`` rounds)
    ranks nodes by how well trust flowing FROM them covers the graph;
    (2) the top ``n_seeds`` become the trusted seed set; (3) trust
    propagates as personalized PageRank with restart uniform on the
    seeds (fixed ``iters`` rounds).

    Seed selection orders by ROUND(rank, 9) DESC, node ASC — the
    9-digit quantization makes the cut deterministic across engines
    and cluster runs (sub-1e-9 rank noise cannot reorder the cut).

    Returns (node, trust) with trust rounded to 9. Both stages are the
    existing one-shuffle-per-iteration PageRank plans; the seed pick is
    a driver-side top-L collect of a 2-column frame.
    """
    from ..operators.transforms import transpose

    spark = edges.sparkSession
    inv = pagerank(
        transpose(edges.select("src", "dst")),
        alpha=alpha,
        fixed_iterations=inv_iters,
        num_partitions=num_partitions,
    )
    top = (
        inv.ranks.select("node", F.round("rank", 9).alias("r"))
        .orderBy(F.col("r").desc(), F.col("node").asc())
        .limit(n_seeds)
        .collect()
    )
    seeds = spark.createDataFrame(
        [(int(r["node"]),) for r in top], "node long"
    )
    res = personalized_pagerank(
        edges.select("src", "dst"),
        seeds,
        alpha=alpha,
        fixed_iterations=iters,
        num_partitions=num_partitions,
    )
    return res.ranks.select("node", F.round("rank", 9).alias("trust"))
