"""Resumability + lineage (north_rule: resumable from checkpoint with
per-partition lineage + metrics)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from webgraph_spark.algos.components import connected_components
from webgraph_spark.algos.pagerank import pagerank
from webgraph_spark.datagen.graphs import erdos_renyi
from webgraph_spark.plans.iterate import CheckpointManager


def _ranks(res):
    return {r.node: r.rank for r in res.ranks.collect()}


def test_pagerank_resume_identical(spark, tmp_path):
    """Run 6 fixed iterations straight vs 3 + kill + resume 3 more.

    Scores agree to 1e-12 relative: the dangling-mass reduction's
    float64 summation order differs between the in-memory partitioning
    (straight run) and the parquet-read partitioning (resume), which is
    inherent 1-2 ulp distributed-FP nondeterminism, not algorithmic
    drift. (Label-valued algorithms — CC/LP — resume exactly; see
    test_cc_resume.)"""
    g = erdos_renyi(spark, 50, 0.08, seed=13)
    straight = pagerank(g, fixed_iterations=6)

    ckpt = str(tmp_path / "pr")
    first = pagerank(g, fixed_iterations=3, checkpoint_dir=ckpt)
    assert first.iterations == 3
    # "kill": new invocation, same checkpoint dir -> resumes at iter 3
    resumed = pagerank(g, fixed_iterations=6, checkpoint_dir=ckpt)
    assert resumed.iterations == 6

    a, b = _ranks(straight), _ranks(resumed)
    assert set(a) == set(b)
    for k in a:
        assert np.isclose(a[k], b[k], rtol=1e-12, atol=1e-15), (
            f"node {k}: {a[k]} != {b[k]}"
        )


def test_pagerank_resume_convergence(spark, tmp_path):
    g = erdos_renyi(spark, 40, 0.1, seed=17)
    ckpt = str(tmp_path / "pr2")
    partial = pagerank(g, max_iter=4, checkpoint_dir=ckpt)
    assert not partial.converged
    resumed = pagerank(g, max_iter=200, tol=1e-8, checkpoint_dir=ckpt)
    assert resumed.converged
    straight = pagerank(g, max_iter=200, tol=1e-8)
    a, b = _ranks(straight), _ranks(resumed)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-7


def test_lineage_table(spark, tmp_path):
    g = erdos_renyi(spark, 30, 0.1, seed=19)
    ckpt = str(tmp_path / "pr3")
    pagerank(g, fixed_iterations=3, checkpoint_dir=ckpt)
    mgr = CheckpointManager(spark, ckpt, "pagerank")
    lin = mgr.lineage().toPandas()
    assert set(lin["iteration"]) == {1, 2, 3}
    assert (lin["rows"] > 0).any()
    assert {"run_id", "file", "checksum", "t_write_ms", "ts", "metrics"} <= set(
        lin.columns
    )
    # per-iteration row counts sum to the node count
    n_nodes = lin[lin["iteration"] == 1]["rows"].sum()
    assert lin[lin["iteration"] == 3]["rows"].sum() == n_nodes
    assert mgr.completed_iterations() == [1, 2, 3]


def _direct_lineage(spark, ckpt, iterations):
    """(iteration, file, rows, checksum) recomputed straight from the
    ``iter_*`` directories, with schema inference."""
    paths = {f"{ckpt}/iter_{k:05d}": k for k in iterations}
    df = spark.read.parquet(*paths)
    per_file = df.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("rows"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("checksum"),
    )
    out = []
    for r in per_file.collect():
        (k,) = [k for p, k in paths.items() if f"{p}/" in r.file]
        out.append((k, r.file, r.rows, r.checksum))
    return sorted(out)


def _flushed_lineage(mgr):
    return sorted(
        (r.iteration, r.file, r.rows, r.checksum) for r in mgr.lineage().collect()
    )


def test_lineage_matches_direct_recomputation(spark, tmp_path):
    """The one lineage pass per run records, for every (iteration,
    file), the same rows/checksum as a direct per-file aggregate."""
    g = erdos_renyi(spark, 30, 0.1, seed=31)
    ckpt = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=3, checkpoint_dir=ckpt)
    mgr = CheckpointManager(spark, ckpt)
    assert _flushed_lineage(mgr) == _direct_lineage(spark, ckpt, [1, 2, 3])
    lin = mgr.lineage().toPandas()
    assert lin["t_write_ms"].notna().all()
    assert lin["metrics"].str.contains("base").all()


def test_lineage_backfilled_after_kill(spark, tmp_path, monkeypatch):
    """A run killed before its lineage flush leaves complete states
    without lineage rows; the resumed run backfills them (null
    t_write_ms/metrics) and no iteration is recorded twice."""
    g = erdos_renyi(spark, 30, 0.1, seed=37)
    ckpt = str(tmp_path / "pr")
    with monkeypatch.context() as m:
        m.setattr(CheckpointManager, "flush_lineage", lambda self: None)
        pagerank(g, fixed_iterations=2, checkpoint_dir=ckpt)
    mgr = CheckpointManager(spark, ckpt)
    assert mgr.completed_iterations() == [1, 2]
    assert not os.path.exists(ckpt + "/lineage")

    pagerank(g, fixed_iterations=4, checkpoint_dir=ckpt)
    flushed = _flushed_lineage(mgr)
    assert flushed == _direct_lineage(spark, ckpt, [1, 2, 3, 4])
    lin = mgr.lineage().toPandas()
    assert not lin.duplicated(["iteration", "file"]).any()
    backfilled = lin["iteration"] <= 2
    assert lin.loc[backfilled, ["t_write_ms", "metrics"]].isna().all().all()
    assert lin.loc[~backfilled, "t_write_ms"].notna().all()

    # resuming a finished run writes no further lineage
    pagerank(g, fixed_iterations=4, checkpoint_dir=ckpt)
    assert _flushed_lineage(mgr) == flushed


def test_lineage_under_old_hidden_name_is_backfilled(spark, tmp_path):
    """A directory whose lineage table was written as ``_lineage`` (a
    name Spark's file listing hides) still resumes: its iterations are
    backfilled into ``lineage``."""
    g = erdos_renyi(spark, 30, 0.1, seed=41)
    ckpt = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=2, checkpoint_dir=ckpt)
    os.rename(ckpt + "/lineage", ckpt + "/_lineage")
    pagerank(g, fixed_iterations=3, checkpoint_dir=ckpt)
    mgr = CheckpointManager(spark, ckpt)
    assert _flushed_lineage(mgr) == _direct_lineage(spark, ckpt, [1, 2, 3])


def test_durable_pagerank_adds_at_most_two_jobs(spark, tmp_path):
    """Each durable iteration is one Spark job (its state write), as in
    memory; lineage is one job per run, not one per iteration."""
    g = erdos_renyi(spark, 30, 0.1, seed=29)
    sc = spark.sparkContext

    def n_jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            pagerank(g, fixed_iterations=6, **kw)
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    in_memory = n_jobs("jobcount-in-memory")
    durable = n_jobs("jobcount-durable", checkpoint_dir=str(tmp_path / "pr"))
    assert durable <= in_memory + 2, (in_memory, durable)


def test_cc_resume(spark, tmp_path):
    g = erdos_renyi(spark, 80, 0.03, seed=23)
    ckpt = str(tmp_path / "cc")
    partial = connected_components(g, max_iter=2, checkpoint_dir=ckpt)
    resumed = connected_components(g, max_iter=50, checkpoint_dir=ckpt)
    assert resumed.converged
    straight = connected_components(g, max_iter=50)
    a = {r.node: r.component for r in resumed.labels.collect()}
    b = {r.node: r.component for r in straight.labels.collect()}
    assert a == b


def test_storage_layer_format_detection(spark):
    """The table-format layer picks Iceberg when its runtime is on the
    classpath, parquet otherwise — the substitution is explicit."""
    from webgraph_spark.sources.storage import iceberg_available, preferred_format

    avail = iceberg_available(spark)
    assert preferred_format(spark) == ("iceberg" if avail else "parquet")


def test_iceberg_roundtrip_when_available(spark, tmp_path):
    """Round-trips a state table through the Iceberg path. SKIPPED in
    this sandbox: no iceberg-spark-runtime jar ships with the container
    (see README 'Table formats'); the parquet fallback is what every
    other checkpoint test exercises."""
    import pytest
    from webgraph_spark.sources.storage import (
        iceberg_available,
        read_state,
        write_state,
    )

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime not on the classpath in this container")
    df = spark.range(10).selectExpr("id AS node", "CAST(id AS DOUBLE) AS rank")
    p = str(tmp_path / "ice_state")
    assert write_state(df, p) == "iceberg"
    assert read_state(spark, p).count() == 10


def test_iteration_storage_stays_bounded(spark):
    """A long iterative run must not accumulate one localCheckpoint's
    blocks per round: iterate() releases round k-1's state the moment
    round k materializes, so stored-RDD count stays O(1) in rounds
    (measured failure mode: hash-min CC at 31.5M edges held every
    round's state and OOMed an 8 GiB driver ~20 rounds in)."""
    n = 60
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    # hashmin pinned: the test NEEDS a long O(diameter) loop to observe
    # unbounded storage growth (the default stars engine is log-round)
    res = connected_components(path, max_iter=100, algorithm="hashmin")
    assert res.converged
    assert res.iterations >= 25  # long loop: ~one round per diameter hop
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    # growth = final state + a small constant of cached inputs — NOT one
    # entry per round (delta, because the shared test session may carry
    # other tests' cached frames)
    assert len(infos) - before <= 6, [
        (i.id(), i.name(), i.memSize()) for i in infos
    ]


def test_release_local_checkpoint_frees_blocks(spark):
    from webgraph_spark.plans.iterate import release_local_checkpoint
    from pyspark.sql import functions as F

    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    ck = spark.range(0, 10000).withColumn("x", F.rand(7)).localCheckpoint(eager=True)
    during = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert during == before + 1
    release_local_checkpoint(ck)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == before
    # releasing a non-checkpointed frame is a safe no-op
    release_local_checkpoint(spark.range(5).selectExpr("id AS node"))


def test_pin_prefers_reliable_checkpoint(spark, tmp_path):
    """plans.iterate.pin: with a reliable checkpoint dir configured the
    pinned frame is a replicated ``.checkpoint`` (survives executor
    loss — the cluster posture); without one it falls back to the
    eager local checkpoint. Either way the values are unchanged."""
    from pyspark.sql import functions as F

    from webgraph_spark.plans.iterate import pin

    df = spark.range(0, 100).withColumn("x", F.col("id") * 2)
    expected = [(r.id, r.x) for r in df.orderBy("id").collect()]

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = pin(df)
    assert not local._jdf.rdd().isCheckpointed()
    assert [(r.id, r.x) for r in local.orderBy("id").collect()] == expected

    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        reliable = pin(df)
        # the reliable checkpoint writes replicated blocks under the
        # configured dir (the derived .rdd() view is a fresh RDD, so
        # assert on the on-disk evidence instead of isCheckpointed)
        ckroot = tmp_path / "ck"
        assert any(ckroot.rglob("*")), "no reliable checkpoint written"
        assert [
            (r.id, r.x) for r in reliable.orderBy("id").collect()
        ] == expected
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None
