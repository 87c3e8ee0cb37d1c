"""Dense node-id assignment (raw keys -> 0..n-1) at cluster scale.

Reference contract: ScatteredArcsASCIIGraph.java:60-86 remaps arbitrary
64-bit/string identifiers to dense ints and keeps the inverse map;
first-appearance order is replaced here (per SURVEY.md §1.4) by a
deterministic TOTAL order over the key columns, so the assignment is
identical at any parallelism level.

Scale notes: a global ``row_number() OVER (ORDER BY ...)`` funnels the
whole table through ONE task — unusable at 10^10 nodes. Instead we
range-partition + sort (Spark's distributed sort), count rows per
partition (tiny aggregate), cumsum the offsets on the driver (one row per
partition), and add ``offset + local_position`` in an Arrow-batched pass.
Two scans, no single-task bottleneck. Range-partition bounds are sampled,
but any bounds yield the same total order, so ids are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import eager_checkpoint


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "node_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = dense 0..n-1 long, ordered by ``order_cols``.

    Rows must be unique on ``order_cols`` (the dictionary's key).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    sorted_df = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    # Persist so the counts job and the id-assignment job observe the SAME
    # range-partition bounds (bounds are re-sampled per job otherwise; any
    # bounds give the same total order, but offsets must match partitions).
    # At cluster scale this would be a checkpoint/table write instead.
    sorted_df = sorted_df.persist()
    # One small job: per-partition row counts -> driver cumsum -> broadcast.
    counts = {r["_pid"]: r["cnt"] for r in sorted_df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boffsets = spark.sparkContext.broadcast(offsets)

    out_schema = sorted_df.drop("_pid").schema.add(id_col, "long", False)

    def add_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            if pos is None:
                pos = boffsets.value.get(pid, 0)
            out = pdf.drop(columns=["_pid"])
            out[id_col] = range(pos, pos + len(pdf))
            pos += len(pdf)
            yield out

    out = sorted_df.mapInPandas(add_ids, schema=out_schema)
    # Materialize the assignment EXACTLY ONCE. When the returned
    # dictionary appears twice in one plan (map_nodes joins it against
    # both src and dst), Spark re-executes this subtree per branch, and
    # repartitionByRange samples fresh range bounds on each execution —
    # the two branches can then disagree on node->id (observed: 16k/18k
    # nodes differing between the src- and dst-side evaluations, arcs
    # silently merged by the downstream distinct). An eager checkpoint
    # pins one evaluation; at cluster scale this is the dictionary's
    # durable table write.
    out = eager_checkpoint(out)
    sorted_df.unpersist()
    return out
