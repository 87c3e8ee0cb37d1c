"""k-core decomposition by iterative degree peeling.

Not a reference operator (vigna/webgraph ships no core decomposition);
added as a first-class scale-graph analytic alongside triangles/cc — the
standard "dense subgraph" filter a link-graph pipeline runs before
expensive per-node algorithms.

Semantics: the k-core of the simple (symmetrized, loop-free) graph is
the maximal subgraph in which every node has degree >= k. Computed by
the classic peel loop: drop all nodes with degree < k, recompute
degrees, repeat to fixpoint.

Scale shape per round: ONE groupBy("src") shuffle for degrees (map-side
combine, uniform keys) and two hash semi-joins of the edge table against
the surviving-node set (co-partitioned on src/dst). The surviving set
shrinks monotonically, so rounds get cheaper; lineage is cut per round
with persist + localCheckpoint (plans/iterate.py pattern). Rounds are
bounded by the peel depth, which is O(n) worst case (a path) but small
on skewed web-like graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.transforms import simplify
from ..plans.iterate import eager_checkpoint, release_local_checkpoint


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Nodes of the k-core with their in-core degree: (node, deg).

    ``edges`` may be directed / multi / loopy — it is simplified first
    (degree = number of distinct neighbours, the standard definition).
    Raises if the peel has not reached the fixpoint in ``max_rounds``
    (truncated output would silently over-report the core).
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    cur = eager_checkpoint(
        simplify(edges).repartition(num_partitions, "src")
    )
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        nxt = eager_checkpoint(
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .repartition(num_partitions, "src")
        )
        n_next = nxt.count()
        release_local_checkpoint(cur)
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        raise RuntimeError(f"kcore: no fixpoint within {max_rounds} rounds")
    out = cur.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    return out


def peel_rounds_sql(k: int, rounds: int) -> str:
    """DuckDB twin: ``rounds`` unrolled peel rounds over the ``sym``
    CTE (which the caller must provide, de-looped + symmetrized).
    Extra rounds past the fixpoint are no-ops, so any ``rounds`` >= the
    true peel depth yields the exact k-core."""
    parts = ["k0 AS MATERIALIZED (SELECT src, dst FROM sym)"]
    for r in range(1, rounds + 1):
        parts.append(f"""
n{r} AS (SELECT src FROM k{r - 1} GROUP BY src HAVING COUNT(*) >= {k}),
k{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM k{r - 1} e
  JOIN n{r} a ON e.src = a.src
  JOIN n{r} b ON e.dst = b.src)""")
    parts.append(f"""
core AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM k{rounds} GROUP BY src)""")
    return ",".join(parts)


def coreness(
    edges: DataFrame,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full core decomposition: (node, coreness) for every node of the
    simplified graph, via the h-index iteration (Lü-Chen-Zhou-Zhang-
    Stanley 2016, public result: repeatedly replacing each node's value
    — initialized to its degree — with the h-index of its neighbours'
    values converges to the coreness, on any graph).

    Per round: one co-partitioned join (neighbour values), one
    window-ranked per-node sort, one groupBy. The per-node window sort
    is the same per-successor-list work the CSR pack already does; a
    10^7-degree hub makes one large sorted partition slice — the known
    hub hazard, bounded by max degree (same posture as the reference's
    per-list sorts). Values only decrease, and the operator is monotone,
    so rounds past the fixpoint are no-ops — which is what makes a
    bounded-unroll SQL oracle exact.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    sym = eager_checkpoint(simplify(edges).repartition(num_partitions, "dst"))
    c = eager_checkpoint(
        sym.groupBy("src").agg(F.count("*").alias("c"))
        .select(F.col("src").alias("node"), "c")
    )
    w = Window.partitionBy("node").orderBy(F.desc("v"), "vid")
    for _ in range(max_rounds):
        nb = (
            sym.join(c.withColumnRenamed("node", "dst").withColumnRenamed("c", "v"), "dst")
            .select(F.col("src").alias("node"), "v", F.col("dst").alias("vid"))
        )
        h = (
            nb.withColumn("_r", F.row_number().over(w))
            .groupBy("node")
            .agg(
                F.sum(F.when(F.col("v") >= F.col("_r"), 1).otherwise(0)).alias("c2")
            )
        )
        nxt = eager_checkpoint(
            c.join(h, "node", "left").select(
                "node", F.coalesce("c2", F.lit(0)).cast("long").alias("c")
            )
        )
        n_changed = (
            nxt.withColumnRenamed("c", "_new")
            .join(c, "node")
            .where(F.col("_new") != F.col("c"))
            .count()
        )
        release_local_checkpoint(c)
        c = nxt
        if n_changed == 0:
            break
    else:
        raise RuntimeError(f"coreness: no fixpoint within {max_rounds} rounds")
    release_local_checkpoint(sym)
    return c


def coreness_rounds_sql(rounds: int) -> str:
    """DuckDB twin: ``rounds`` unrolled h-index rounds over ``sym``
    (caller provides it). Rounds past the fixpoint are no-ops."""
    parts = [
        "c0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS c FROM sym GROUP BY src)"
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
c{r} AS MATERIALIZED (
  SELECT node, SUM(CASE WHEN v >= rk THEN 1 ELSE 0 END) AS c FROM (
    SELECT e.src AS node, p.c AS v,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY p.c DESC, e.dst) AS rk
    FROM sym e JOIN c{r - 1} p ON e.dst = p.node) t
  GROUP BY node)""")
    parts.append(
        f"core_final AS (SELECT node, CAST(c AS BIGINT) AS coreness FROM c{rounds})"
    )
    return ",".join(parts)


def onion_layers(
    edges: DataFrame,
    max_rounds: int = 60,
    num_partitions: int | None = None,
) -> DataFrame:
    """Onion decomposition (Hebert-Dufresne, Grochow, Allard; Sci.
    Rep. 2016): the k-core peel refined by WHICH PASS removed each
    node — per round, k rises to the current minimum degree and every
    node with degree <= k leaves as one layer. The layer spectrum
    within each core distinguishes tree-like from loopy cores that
    plain coreness conflates. A node's k at removal is exactly its
    coreness, so the output cross-checks against :func:`coreness`.

    Synchronous and deterministic (no tie-breaks: the whole <= k
    batch leaves together), hence unrollable in SQL; raises if the
    peel needs more than ``max_rounds`` layers (truncated layering is
    never returned).

    Scale shape: per round one degree aggregate, one scalar min, two
    semi-joins on the shrinking edge set — the kcore() loop with a
    moving threshold. Rounds = number of layers (typically
    O(max coreness + log n)).

    Returns (node, layer, coreness), layer starting at 1.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cur = eager_checkpoint(
        simplify(edges).repartition(num_partitions, "src")
    )
    out_frames = []
    k = 0
    layer = 0
    for _ in range(max_rounds):
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        row = deg.agg(F.min("deg").alias("mn")).collect()[0]
        if row["mn"] is None:
            break
        k = max(k, int(row["mn"]))
        layer += 1
        rm = deg.where(F.col("deg") <= k).select(
            F.col("src").alias("node"),
            F.lit(layer).cast("long").alias("layer"),
            F.lit(k).cast("long").alias("coreness"),
        )
        out_frames.append(eager_checkpoint(rm))
        keep = deg.where(F.col("deg") > k).select("src")
        nxt = eager_checkpoint(
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .repartition(num_partitions, "src")
        )
        release_local_checkpoint(cur)
        cur = nxt
    else:
        raise RuntimeError(
            f"onion_layers: graph not exhausted within {max_rounds} layers"
        )
    if not out_frames:
        return spark.createDataFrame(
            [], "node long, layer long, coreness long"
        )
    out = out_frames[0]
    for f in out_frames[1:]:
        out = out.unionAll(f)
    return out


def onion_rounds_sql(rounds: int = 60) -> str:
    """DuckDB twin CTE chain of :func:`onion_layers` over ``sym``
    (caller provides edges/sym): per round a degree aggregate, the
    monotone threshold k_r = GREATEST(k_{r-1}, min degree), the
    <= k_r removal batch, and the surviving edge set. Rounds past
    exhaustion are no-ops. Final relation ``onion_final(node, layer,
    coreness)``."""
    parts = ["""
oe0 AS MATERIALIZED (SELECT src, dst FROM sym),
ok0 AS MATERIALIZED (SELECT 0 AS k)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
od{r} AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM oe{p} GROUP BY src)""")
        parts.append(f"""
ok{r} AS MATERIALIZED (SELECT GREATEST((SELECT k FROM ok{p}),
                 COALESCE((SELECT MIN(deg) FROM od{r}),
                          (SELECT k FROM ok{p}))) AS k)""")
        parts.append(f"""
orm{r} AS MATERIALIZED (
  SELECT node, CAST({r} AS BIGINT) AS layer,
         CAST((SELECT k FROM ok{r}) AS BIGINT) AS coreness
  FROM od{r} WHERE deg <= (SELECT k FROM ok{r}))""")
        parts.append(f"""
oe{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM oe{p} e
  WHERE e.src NOT IN (SELECT node FROM orm{r})
    AND e.dst NOT IN (SELECT node FROM orm{r}))""")
    union = " UNION ALL ".join(
        f"SELECT node, layer, coreness FROM orm{r}"
        for r in range(1, rounds + 1)
    )
    return ",".join(parts) + f""",
onion_final AS ({union})"""
