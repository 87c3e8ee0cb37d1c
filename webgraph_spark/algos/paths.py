"""Weighted shortest paths and DAG layering as iterative DataFrame jobs.

Beyond-reference additions (SURVEY.md §2.12): the reference's traversal
surface is unweighted BFS (ParallelBreadthFirstVisit.java:44-110); a
link-graph user with arc labels (multiplicities, costs) also needs

- :func:`sssp` — synchronous Bellman-Ford relaxation over a labelled
  edge table: dist_{t+1}(v) = min(dist_t(v), min_{u->v} dist_t(u) + w).
  Each round is ONE co-partitioned join (edges x current frontier of
  improved nodes) + ONE min-aggregation — the frontier filter mirrors
  BFS: only nodes whose distance improved last round can improve a
  neighbour this round, so the convergence tail touches O(arcs out of
  changed nodes), not O(|E|).
- :func:`dag_layers` — longest-path layering of a DAG (topological
  levels): layer_{t+1}(v) = max(layer_t(v), max_{u->v} layer_t(u) + 1),
  run to fixpoint. On an acyclic graph this converges in (longest path)
  rounds to the classic scheduling/stratification order; on a cyclic
  input it hits ``max_rounds`` and raises (a DAG layering that silently
  truncates on a cycle would be wrong).

Both keep integer distances/layers when the weights are integers, so
oracle comparison is exact (no floating-point rounding contract).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import eager_checkpoint, iterate, iteration_confs


@dataclass
class SSSPResult:
    distances: DataFrame  # (node: long, dist: long) — reached nodes only
    rounds: int
    converged: bool


def sssp(
    edges: DataFrame,
    sources: DataFrame | list[int],
    weight_col: str | None = None,
    rounds: int | None = None,
    max_rounds: int = 10_000,
    num_partitions: int | None = None,
) -> SSSPResult:
    """Multi-source weighted shortest distances over ``edges(src, dst[,
    weight])``. ``weight_col=None`` uses weight 1 (plain BFS distances).
    ``rounds`` runs exactly that many synchronous relaxations (the
    oracle-checkable fixed-round mode); otherwise iterate to fixpoint.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    e = (
        edges.select(F.col("src"), F.col("dst"), w.alias("w"))
        .repartition(num_partitions, "src")
        .persist()
    )
    if isinstance(sources, list):
        sources = spark.createDataFrame([(int(s),) for s in sources], "node long")
    state0 = (
        sources.select("node")
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"),
                F.lit(True).alias("chg"))
        .repartition(num_partitions, "node")
    )

    def step(state, k):
        from pyspark.sql import Observation

        relaxed = (
            e.join(
                state.where("chg").select(F.col("node").alias("src"), "dist"),
                "src",
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("cand"))
        )
        obs = Observation()
        new_state = (
            state.select("node", "dist")
            .join(relaxed.hint("shuffle_hash"), "node", "full")
            .select(
                "node",
                # least() skips nulls (returns null only if BOTH are)
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                F.coalesce(
                    F.col("dist").isNull() | (F.col("cand") < F.col("dist")),
                    F.lit(False),
                ).alias("chg"),
            )
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("nchg"))
        )
        return new_state, {}, obs

    if rounds is not None:
        max_iter, stop = rounds, None
    else:
        max_iter = max_rounds
        stop = lambda m, k: int(m.get("nchg") or 0) == 0  # noqa: E731

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        state, k, done = iterate(spark, state0, step, max_iter, stop=stop)
    e.unpersist()
    return SSSPResult(state.select("node", "dist"), k, done or rounds is not None)


@dataclass
class LayerResult:
    layers: DataFrame  # (node: long, layer: long)
    rounds: int


def dag_layers(
    edges: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 10_000,
    num_partitions: int | None = None,
) -> LayerResult:
    """Longest-path layer of every node of a DAG (0 for roots). With
    ``rounds`` runs exactly k synchronous max-propagation rounds (the
    unrolled-oracle mode); otherwise to fixpoint, raising if the input
    still changes after ``max_rounds`` (cycle detection)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select("src", "dst").distinct().repartition(num_partitions, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    state0 = nodes.select(
        "node", F.lit(0).cast("long").alias("layer"), F.lit(True).alias("chg")
    ).repartition(num_partitions, "node")

    def step(state, k):
        from pyspark.sql import Observation

        pushed = (
            e.join(
                state.where("chg").select(F.col("node").alias("src"), "layer"),
                "src",
            )
            .select(F.col("dst").alias("node"), (F.col("layer") + 1).alias("cand"))
            .groupBy("node")
            .agg(F.max("cand").alias("cand"))
        )
        obs = Observation()
        new_state = (
            state.select("node", "layer")
            .join(pushed.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                F.greatest("layer", F.coalesce("cand", F.lit(0))).alias("layer"),
                (F.coalesce("cand", F.lit(0)) > F.col("layer")).alias("chg"),
            )
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("nchg"))
        )
        return new_state, {}, obs

    if rounds is not None:
        max_iter, stop = rounds, None
    else:
        max_iter, stop = max_rounds, (
            lambda m, k: int(m.get("nchg") or 0) == 0
        )

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        state, k, done = iterate(spark, state0, step, max_iter, stop=stop)
    e.unpersist()
    if rounds is None and not done:
        raise RuntimeError(
            f"dag_layers did not converge after {max_rounds} rounds — "
            "input graph likely contains a cycle"
        )
    return LayerResult(state.select("node", "layer"), k)


def temporal_reachability(
    arcs: DataFrame,
    sources: list[int],
    max_rounds: int = 32,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL edge table
    ``arcs(src, dst, t: long)`` (Wu et al. VLDB'14 semantics): an arc
    is traversable only at its timestamp, and only by a walker already
    at ``src`` no later than ``t`` — the time-respecting path model for
    interaction graphs (who could have influenced whom), which static
    reachability over-approximates badly.

    Synchronous relaxation: ``arrival_{k+1}(v) = min(arrival_k(v),
    min over arcs (u, v, t) with t >= arrival_k(u) of t)``. Sources
    start at arrival LONG_MIN (any arc usable). Every round is one
    co-partitioned join + one min-aggregation over int64 timestamps —
    exact, no float contract — run as ONE Spark job on
    :func:`plans.iterate.iterate`, the changed-row count observed on the
    state write (``sssp``'s stop rule); rounds past the fixpoint are no-ops,
    so a fixed schedule that reaches it returns the exact fixpoint (the
    unrolled-SQL oracle contract; ``fixed_rounds`` pins it). Returns
    ``(node, arrival)`` for every temporally reachable node.
    """
    spark = arcs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    LONG_MIN = -(1 << 62)
    LONG_INF = 1 << 62
    state0 = spark.createDataFrame(
        [(s, LONG_MIN) for s in dict.fromkeys(int(s) for s in sources)],
        "node long, arrival long",
    )

    def step(state, k):
        from pyspark.sql import Observation

        msgs = (
            e.join(
                state.select(
                    F.col("node").alias("src"), F.col("arrival").alias("_a")
                ).hint("shuffle_hash"),
                "src",
            )
            .where(F.col("t") >= F.col("_a"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("t").alias("_m"))
        )
        obs = Observation()
        new_state = (
            state.join(msgs, "node", "full_outer")
            .select(
                "node",
                F.least(
                    F.coalesce("arrival", F.lit(LONG_INF)),
                    F.coalesce("_m", F.lit(LONG_INF)),
                ).alias("arrival"),
                F.col("arrival").alias("_old"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("_old").isNull() | (F.col("arrival") < F.col("_old")))
                    .cast("long")
                ).alias("nchg"),
            )
            .select("node", "arrival")
        )
        return new_state, {}, obs

    if fixed_rounds is not None:
        max_iter, stop = fixed_rounds, None
    else:
        max_iter, stop = max_rounds, (lambda m, k: not m.get("nchg"))

    with iteration_confs(spark):
        e = eager_checkpoint(
            arcs.select("src", "dst", F.col("t").cast("long").alias("t"))
            .repartition(num_partitions, "src")
        )
        state, _, _ = iterate(spark, state0, step, max_iter, stop=stop)
    return state


def hitting_time(
    edges: DataFrame,
    targets: DataFrame,
    iters: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """Truncated expected hitting time of a random walk on the
    symmetrized simple graph: h(v) = expected number of steps for the
    uniform walk started at v to first reach the ``targets(node)`` set.

    Value iteration on the absorbing linear system, truncated at
    ``iters``::

        h_0(v)    = 0
        h_k(v)    = 0                                   v in targets
        h_k(v)    = 1 + (1/deg v) * sum_{u ~ v} h_{k-1}(u)   otherwise

    h_k(v) equals the exact hitting time restricted to walks absorbed
    within k steps plus k * P(not yet absorbed) — a monotone
    lower-bound sequence converging to the true hitting time, the
    standard truncated value iteration. Nodes that cannot reach the
    target set converge to the truncation value k (report with the
    iteration count; at k -> inf they are +inf). A node with no arcs
    at all is pinned to k explicitly — the walk from it never moves.

    Cross-engine determinism (the house contract, strongest form): h
    is maintained as an INTEGER in units of 1e-9 steps. Neighbour sums
    are exact int64 sums; the per-node division rounds half-up in
    integer arithmetic — floor((2*S + deg) / (2*deg)) — so no float
    exists anywhere in the loop and the DuckDB twin
    (:func:`webgraph_spark.graph.testdata.hitting_time_sql`) is
    bit-equal by construction. (A first draft divided a DECIMAL(38,9)
    sum by the degree in float: with an even degree the quotient lands
    EXACTLY on a .5 boundary at digit 10, and Spark's BigDecimal
    HALF_UP vs DuckDB's float round disagreed on 134/18600 nodes.)
    The single float appears in the output conversion hit = H / 1e9.
    Overflow bound: max H = iters * 1e9, so a neighbour sum needs
    degree * iters * 1e9 < 2^63 — degree < 1.5e9 at iters=6; beyond
    that, swap the sum column to decimal(38,0).

    Plan shape per iteration (PageRank's): one co-partitioned
    shuffle-hash join of the symmetric arc table against the h table +
    one groupBy(dst) sum with map-side combine — O(|E|) per round, no
    per-node state growth; scale posture identical to the mandated
    PageRank loop. Returns (node, hit double) with targets at 0.0.
    """
    from ..operators.transforms import no_loops, symmetrize

    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = (
        no_loops(symmetrize(edges.select("src", "dst")))
        .repartition(num_partitions, "src")
        .persist()
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    tgt = targets.select("node").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = (
        nodes.join(tgt.withColumn("_t", F.lit(1)).hint("shuffle_hash"), "node", "left")
        .join(deg.hint("shuffle_hash"), "node", "left")
        .select(
            "node",
            F.coalesce("_t", F.lit(0)).alias("is_target"),
            F.coalesce("deg", F.lit(0)).alias("deg"),
        )
        .repartition(num_partitions, "node")
        .persist()
    )
    scale = 10**9
    h = base.select("node", F.lit(0).cast("long").alias("hs"))

    def step(state: DataFrame, k: int):
        contrib = (
            sym.join(
                state.select(F.col("node").alias("src"), "hs").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hs").alias("nsum"))
        )
        new_h = (
            base.join(contrib.hint("shuffle_hash"), "node", "left")
            .withColumn("nsum", F.coalesce("nsum", F.lit(0)))
            .select(
                "node",
                F.when(F.col("is_target") == 1, F.lit(0))
                .when(F.col("deg") == 0, F.lit(k * scale))
                .otherwise(
                    F.lit(scale)
                    + F.expr("(2 * nsum + deg) div (2 * deg)")
                )
                .cast("long")
                .alias("hs"),
            )
        )
        return new_h, {}, None

    with iteration_confs(spark):
        h, _, _ = iterate(spark, h, step, max_iter=iters, run_id="hitting_time")
    sym.unpersist()
    base.unpersist()
    return h.select("node", (F.col("hs").cast("double") / F.lit(float(scale))).alias("hit"))
