"""Geometric centralities via batched multi-source BFS.

Reference: GeometricCentralities.java:44-63 computes exact closeness /
harmonic / Lin / exponential centralities by per-source BFS over a
thread pool; SampleDistanceCumulativeDistributionFunction.java:25-32
samples sources for the distance CDF. The Spark shape batches all
sources into ONE frontier DataFrame keyed by (source, node): each
level expands every source's frontier simultaneously — n_sources
parallel BFS for the price of one shuffle and ONE Spark job per level
(the keyed frontier kernel of algos/bfs.py, on plans.iterate).

Exact and all-pairs at fixture scale; at corpus scale use sampled
sources (distance CDF) or HyperBall (algos/hyperball.py) — the same
split the reference makes (NeighbourhoodFunction O(nm) oracle vs
HyperBall estimator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .bfs import _frontier_bfs


def multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_rounds: int = 10_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distances from every source: (source, node, dist)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if isinstance(sources, list):
        sources = spark.createDataFrame([(int(s),) for s in sources], "source long")
    seeds = sources.select("source", F.col("source").alias("node"))
    arcs = edges.select("src", "dst").distinct()
    return _frontier_bfs(arcs, seeds, ["source"], max_rounds, num_partitions).distances


def geometric_centralities(
    edges: DataFrame, sources: DataFrame | list[int] | None = None
) -> DataFrame:
    """(source, reachable, closeness, harmonic, lin) — exact values per
    source node (GeometricCentralities contract):

    - closeness = 1 / sum of distances (0 if nothing reachable);
    - harmonic  = sum of 1/d over reachable y != x;
    - lin       = reachable^2 / sum of distances (1 for isolated).
    """
    spark = edges.sparkSession
    if sources is None:
        sources = (
            edges.select(F.col("src").alias("source"))
            .unionByName(edges.select(F.col("dst").alias("source")))
            .distinct()
        )
    dists = multi_source_bfs(edges, sources)
    agg = dists.where(F.col("dist") > 0).groupBy("source").agg(
        F.count("*").alias("reached"),
        F.sum("dist").alias("sum_d"),
        F.sum(1.0 / F.col("dist")).alias("harmonic"),
    )
    src_df = dists.select("source").distinct()
    return src_df.join(agg, "source", "left").select(
        "source",
        (F.coalesce("reached", F.lit(0)) + 1).alias("reachable"),
        F.when(F.col("sum_d").isNull(), 0.0)
        .otherwise(1.0 / F.col("sum_d"))
        .alias("closeness"),
        F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        F.when(F.col("sum_d").isNull(), 1.0)
        .otherwise(
            F.pow(F.coalesce("reached", F.lit(0)) + 1, 2) / F.col("sum_d")
        )
        .alias("lin"),
    )


def nf_exact(edges: DataFrame) -> DataFrame:
    """Exact neighbourhood function: (t, nf_exact) with nf_exact =
    #pairs (x, y), x possibly = y, at distance <= t — ONE batched
    multi-source BFS from every node (NeighbourhoodFunction.java:44-49
    semantics without the per-source driver loop). All-pairs closure:
    test/oracle scale, the same split the reference makes."""
    nodes = (
        edges.select(F.col("src").alias("source"))
        .unionByName(edges.select(F.col("dst").alias("source")))
        .distinct()
    )
    dists = multi_source_bfs(edges, nodes)
    hist = dists.groupBy("dist").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    # global window is over the DISTANCE HISTOGRAM: O(diameter) rows,
    # bounded regardless of graph size — not a scale hazard
    w = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        F.col("dist").cast("long").alias("t"),
        F.sum("c").over(w).cast("long").alias("nf_exact"),
    )


def nf_stats(nf_df: DataFrame, quantile: float = 0.9) -> DataFrame:
    """One-row (avg_distance, spid, effective_diameter) from an exact NF
    frame ``(t, nf_exact)`` — the derived statistics the reference's
    EstimateEffectiveDiameter tool and HyperANF's SPID report
    (NeighbourhoodFunction.effectiveDiameter semantics: linear
    interpolation to the ``quantile`` of NF(max); SPID =
    variance-to-mean ratio of the distance distribution over reachable
    pairs at distance >= 1).

    Moments are accumulated as EXACT int64 sums (t*c, t*t*c over the
    integer NF increments) with one double division each at the end, so
    any engine evaluating the same formula bit-matches the result. The
    NF frame is O(diameter) rows; every join here is on single-row or
    diameter-length frames.
    """
    nf = nf_df.select(F.col("t").cast("long"), F.col("nf_exact").cast("long"))
    agg = nf.agg(
        F.min(F.when(F.col("t") == 0, F.col("nf_exact"))).alias("nf0"),
        F.max("nf_exact").alias("nflast"),
    )
    n, p = nf.alias("n"), nf.alias("p")
    inc = n.join(p, F.col("p.t") == F.col("n.t") - 1).select(
        F.col("n.t").alias("t"),
        (F.col("n.nf_exact") - F.col("p.nf_exact")).alias("c"),
    )
    mom = inc.agg(
        F.sum(F.col("t") * F.col("c")).alias("s1"),
        F.sum(F.col("t") * F.col("t") * F.col("c")).alias("s2"),
    )
    mv = mom.crossJoin(agg).select(
        (
            F.col("s1").cast("double")
            / (F.col("nflast") - F.col("nf0")).cast("double")
        ).alias("mean"),
        (
            F.col("s2").cast("double")
            / (F.col("nflast") - F.col("nf0")).cast("double")
        ).alias("msq"),
    )
    # smallest t with NF(t) >= quantile * NF(max), then interpolate
    t_hit = (
        nf.crossJoin(agg)
        .filter(
            F.col("nf_exact").cast("double")
            >= F.lit(quantile) * F.col("nflast").cast("double")
        )
        .agg(F.min("t").alias("t_hit"))
    )
    cur, prev = nf.alias("cur"), nf.alias("prev")
    effd = (
        t_hit.crossJoin(agg)
        .join(cur, F.col("cur.t") == F.col("t_hit"))
        .join(prev, F.col("prev.t") == F.col("t_hit") - 1, "left")
        .select(
            F.when(F.col("t_hit") == 0, F.lit(0.0))
            .otherwise(
                (F.col("t_hit") - 1).cast("double")
                + (
                    F.lit(quantile) * F.col("nflast").cast("double")
                    - F.col("prev.nf_exact").cast("double")
                )
                / (
                    F.col("cur.nf_exact").cast("double")
                    - F.col("prev.nf_exact").cast("double")
                )
            )
            .alias("effd")
        )
    )
    return mv.crossJoin(effd).select(
        F.round(F.col("mean"), 9).alias("avg_distance"),
        F.round(
            (F.col("msq") - F.col("mean") * F.col("mean")) / F.col("mean"), 9
        ).alias("spid"),
        F.round(F.col("effd"), 9).alias("effective_diameter"),
    )


def distance_cdf(edges: DataFrame, sample_sources: list[int]) -> DataFrame:
    """Sampled distance CDF: (dist, n_pairs, cum_pairs) over the sampled
    sources (SampleDistanceCumulativeDistributionFunction analog)."""
    from pyspark.sql import Window

    dists = multi_source_bfs(edges, sample_sources)
    hist = dists.groupBy("dist").agg(F.count("*").alias("n_pairs"))
    # O(diameter)-row histogram window — bounded, see nf_exact
    w = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "dist", "n_pairs", F.sum("n_pairs").over(w).alias("cum_pairs")
    )
