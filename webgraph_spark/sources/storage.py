"""Table-format layer for durable artifacts (checkpoints, edge tables).

The north star stores the edge table and per-iteration state as
**Iceberg** tables. This sandbox's Spark distribution has NO Iceberg
runtime jars (verified: no iceberg-spark-runtime in $SPARK_HOME/jars),
so the engine writes plain parquet directories instead — an EXPLICIT,
isolated substitution, not a silent one: every durable write funnels
through :func:`write_state` / :func:`read_state`, which pick Iceberg
path-based tables (HadoopTables, ``format("iceberg")``) whenever the
runtime is on the classpath and fall back to parquet otherwise.
See README.md "Table formats".

Completion detection differs by format: parquet directories are
complete iff Spark's ``_SUCCESS`` marker exists; Iceberg tables are
complete iff the ``metadata`` directory holds a committed snapshot —
:func:`state_complete` hides the difference from CheckpointManager.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession

_ICEBERG_CLASS = "org.apache.iceberg.spark.source.IcebergSource"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(_ICEBERG_CLASS)
        return True
    except Exception:
        return False


def preferred_format(spark: SparkSession) -> str:
    return "iceberg" if iceberg_available(spark) else "parquet"


def write_state(df: DataFrame, path: str, fmt: str | None = None) -> str:
    """Write a durable state artifact; returns the format used."""
    fmt = fmt or preferred_format(df.sparkSession)
    if fmt == "iceberg":
        # path-based (HadoopTables) Iceberg table: atomic snapshot commit
        df.write.format("iceberg").mode("overwrite").save(path)
    else:
        df.write.mode("overwrite").parquet(path)
    return fmt


def read_state(
    spark: SparkSession, path: str | list[str], fmt: str | None = None, schema=None
) -> DataFrame:
    """Read a durable state artifact, or several of one schema as one
    frame when ``path`` is a list (a single multi-path scan for
    parquet). A known ``schema`` (e.g. that of the frame just written)
    skips parquet schema inference, which costs a footer-reading Spark
    job per read; Iceberg reads the schema from its table metadata and
    ignores it."""
    fmt = fmt or preferred_format(spark)
    paths = [path] if isinstance(path, str) else list(path)
    if fmt == "iceberg":
        return reduce(
            DataFrame.unionByName,
            (spark.read.format("iceberg").load(p) for p in paths),
        )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def state_complete(fs, Path, path: str, fmt: str) -> bool:
    """Atomic-completion check: _SUCCESS marker (parquet) or a committed
    Iceberg snapshot (metadata dir non-empty)."""
    if fmt == "iceberg":
        meta = Path(f"{path}/metadata")
        return fs.exists(meta) and len(fs.listStatus(meta)) > 0
    return fs.exists(Path(f"{path}/_SUCCESS"))


# ------------------------------------------------- bucketed edge tables

def write_bucketed_edges(
    edges: DataFrame,
    table_name: str,
    path: str,
    buckets: int = 32,
    bucket_col: str = "src",
    sort_cols: tuple[str, ...] = ("src", "dst"),
) -> None:
    """Persist an edge table hash-BUCKETED on ``bucket_col`` and sorted
    within buckets (``bucketBy`` + ``sortBy`` external parquet table).

    This is the storage-level analog of the reference's offset-indexed
    .graph file: the physical layout carries the partitioning, so every
    later job that joins or aggregates on ``bucket_col`` — PageRank's
    rank×edge join, degree aggregation, CSR packing — starts from
    co-located data and the scan-side Exchange disappears entirely
    (asserted by tests/test_storage_bucketed.py on the physical plan).
    At 100 TB this converts the per-job repartition(src) of a hot graph
    into a one-time write cost amortized across every downstream run;
    two tables bucketed the same way join with NO shuffle on either
    side. Buckets should be sized so one bucket's arcs fit an executor
    (n_arcs/buckets ~ 10^7 at 10^10 arcs -> buckets ~ 10^3)."""
    (
        edges.write.format("parquet")
        .option("path", path)
        .bucketBy(buckets, bucket_col)
        .sortBy(*sort_cols)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table WITH its bucket metadata (spark.table —
    reading the parquet path directly would drop the bucketing spec and
    reintroduce the shuffle)."""
    return spark.table(table_name)


def load_graph(spark: SparkSession, path: str) -> DataFrame:
    """ImmutableGraph.load analog (ImmutableGraph.java:600-685): open a
    stored graph by basename/path and return its edge DataFrame,
    dispatching on what is actually on disk — the reference's
    reflection-on-``graphclass`` turned into format sniffing:

    - ``<path>.properties`` present -> the reference's NATIVE BVGraph
      layout, decoded by sources/bvdisk.read_bvgraph (graphclass is
      validated there);
    - a parquet directory of block rows -> the matching unpack
      (operators csr/ef/bitstream/bvfull, keyed on schema columns);
    - a plain (src, dst[, ...]) parquet edge table -> read as-is.
    """
    import os

    if os.path.exists(path + ".properties"):
        with open(path + ".properties", encoding="utf-8") as f:
            head = f.read()
        if "ArcLabelled" in head:
            from .bvdisk import read_bvgraph_labelled

            return read_bvgraph_labelled(spark, path)
        from .bvdisk import read_bvgraph

        return read_bvgraph(spark, path)
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if {"src", "dst"} <= cols:
        return df
    if "lbits" in cols and "uppers" in cols:
        from ..operators.ef import unpack_ef

        return unpack_ef(df)
    if "res_u" in cols:
        from ..operators.bvfull import unpack_bv_full

        return unpack_bv_full(df)
    if "deg_u" in cols and "code" in cols:
        from ..operators.bitstream import unpack_bv

        return unpack_bv(df)
    if {"srcs", "counts", "firsts", "gaps"} <= cols:
        from ..operators.csr import unpack_csr

        return unpack_csr(df)
    raise ValueError(
        f"load_graph: {path} is neither a BVGraph basename, a known "
        f"block table, nor an edge table (columns: {sorted(cols)})"
    )
