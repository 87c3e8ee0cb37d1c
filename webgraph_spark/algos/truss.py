"""k-truss decomposition by iterative triangle-support peeling.

Not a reference operator (vigna/webgraph ships triangle counting but no
truss); added as the natural rung above the k-core in the dense-subgraph
ladder — the k-truss is the maximal subgraph in which every edge closes
at least k-2 triangles, a strictly stronger cohesion filter than degree
(every k-truss is inside the (k-1)-core).

Semantics (standard public definition, Cohen 2008): on the simple
symmetrized loop-free graph, repeatedly delete every edge whose
triangle support (number of common neighbours of its endpoints inside
the current subgraph) is below k-2, until fixpoint. All arithmetic is
integer counting — bit-identical in any engine, which is what makes the
bounded-unroll SQL twin exact (rounds past the fixpoint are no-ops:
support only shrinks as edges leave, and at the fixpoint recomputation
keeps every edge).

Scale shape per round: one triangle enumeration over the surviving
edges — the same degree-ordered orientation plan as
:mod:`webgraph_spark.algos.triangles` (wedges rooted at the
lowest-degree endpoint, so a degree-d hub closes wedges but never
generates d^2 of them), two shuffle joins, then one groupBy(src, dst)
count and a semi-join peel. The edge set shrinks monotonically, so
rounds get cheaper; lineage is cut per round (persist +
localCheckpoint). Peel depth is graph-dependent (small on web-like
skew); the loop raises on truncation rather than return a superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.transforms import no_loops, symmetrize
from ..plans.iterate import eager_checkpoint
from .triangles import _oriented


def _canonical(edges: DataFrame) -> DataFrame:
    """Each undirected simple edge once, as (src < dst)."""
    und = no_loops(symmetrize(edges))
    return und.where(F.col("src") < F.col("dst")).select("src", "dst")


def edge_support(canon: DataFrame) -> DataFrame:
    """(src, dst, sup): triangle support of each canonical (src < dst)
    edge. Edges in no triangle are ABSENT (callers treat missing as 0).
    Exact integer counts; degree-ordered enumeration so every triangle
    is produced exactly once."""
    o = _oriented(canon)
    e2 = o.select(F.col("src").alias("mid"), F.col("dst").alias("w"))
    wedges = (
        o.alias("e1")
        .join(e2, F.col("e1.dst") == F.col("mid"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("mid").alias("b"),
            F.col("w").alias("c"),
        )
    )
    # o's arcs are unique, so this inner join keeps each closed wedge
    # (= one triangle, by orientation) exactly once
    tri = wedges.join(
        o.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
    )
    corners = (
        tri.select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .unionAll(
            tri.select(
                F.least("a", "c").alias("src"),
                F.greatest("a", "c").alias("dst"),
            )
        )
        .unionAll(
            tri.select(
                F.least("b", "c").alias("src"),
                F.greatest("b", "c").alias("dst"),
            )
        )
    )
    return corners.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("sup")
    )


def ktruss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Edges of the k-truss with their in-truss support:
    (src, dst, support), src < dst.

    ``edges`` may be directed / multi / loopy — simplified first.
    Raises RuntimeError if the peel has not reached the fixpoint within
    ``max_rounds`` (a truncated result would silently over-report)."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (k-2 >= 1 triangles/edge)")
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )

    cur = eager_checkpoint(_canonical(edges).repartition(num_partitions, "src"))
    n = cur.count()
    for _ in range(max_rounds):
        if n == 0:
            return cur.select(
                "src", "dst", F.lit(0).cast("long").alias("support")
            ).where(F.lit(False))
        sup = edge_support(cur)
        keep = eager_checkpoint(
            cur.join(
                sup.where(F.col("sup") >= k - 2), ["src", "dst"], "left_semi"
            )
        )
        m = keep.count()
        if m == n:
            # fixpoint: attach the (stable) support of the final graph
            return cur.join(edge_support(cur), ["src", "dst"]).select(
                "src", "dst", F.col("sup").alias("support")
            )
        cur, n = keep, m
    raise RuntimeError(
        f"ktruss(k={k}) did not reach a fixpoint in {max_rounds} rounds"
    )


def ktruss_rounds_sql(k: int, rounds: int) -> str:
    """DuckDB twin: ``rounds`` unrolled peel rounds over the ``sym``
    CTE (caller provides, de-looped + symmetrized). Id-ordered triangle
    enumeration (a < b < c) — a different physical plan from the Spark
    degree-ordered one, same exact integer supports. Any ``rounds`` >=
    the true peel depth yields the exact k-truss; the final SELECT
    re-derives support on the fixpoint graph."""
    s = k - 2
    parts = [
        "g0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst)"
    ]

    def tri(r: int, src_cte: str) -> str:
        return f"""
t{r} AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM {src_cte} e1
  JOIN {src_cte} e2 ON e2.src = e1.src AND e2.dst > e1.dst
  JOIN {src_cte} e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
sup{r} AS (
  SELECT src, dst, COUNT(*) AS sup FROM (
    SELECT a AS src, b AS dst FROM t{r}
    UNION ALL SELECT a AS src, c AS dst FROM t{r}
    UNION ALL SELECT b AS src, c AS dst FROM t{r})
  GROUP BY src, dst)"""

    for r in range(1, rounds + 1):
        parts.append(
            tri(r, f"g{r - 1}")
            + f""",
g{r} AS MATERIALIZED (
  SELECT g.src, g.dst FROM g{r - 1} g
  JOIN sup{r} s ON s.src = g.src AND s.dst = g.dst
  WHERE s.sup >= {s})"""
        )
    final = rounds + 1
    parts.append(
        tri(final, f"g{rounds}")
        + f""",
truss AS (
  SELECT g.src, g.dst, CAST(s.sup AS BIGINT) AS support
  FROM g{rounds} g
  JOIN sup{final} s ON s.src = g.src AND s.dst = g.dst)"""
    )
    return ",".join(parts)
