"""Iteration framework: durable per-iteration checkpoints, per-partition
lineage + metrics, resumable mid-run (north_rule requirement).

Reference analogs: HyperBall's external-memory update lists + its
`.properties`-style run metadata (HyperBall.java:300-307; BVGraph
properties BVGraph.java:2554-2650). In Spark the concerns map to:

- **lineage blowup**: every iterative DataFrame job grows its logical
  plan each round; writing state to parquet and re-reading truncates the
  plan AND yields durability (SURVEY.md §4 "iterative lineage control").
- **resumability**: each iteration directory is committed atomically by
  Spark's _SUCCESS marker; ``latest()`` finds the last complete
  iteration, so a killed run restarts exactly where it stopped.
- **per-partition lineage/metrics**: for every output file (= partition
  of the durable artifact) of every iteration, a row count plus an
  order-insensitive BIT_XOR(xxhash64(*)) checksum — verifiable without
  re-reading history, stored in ``<base>/lineage``. The rows are
  computed once per run, not once per iteration: one multi-path scan
  over that run's ``iter_*`` directories when the loop ends (converged,
  ``max_iter`` or an exception). A resumed run first backfills rows,
  with null ``t_write_ms`` and ``metrics``, for completed iterations a
  killed run never flushed.
- **one job per iteration**: the state write (or, in memory, the eager
  local checkpoint) is the iteration's only Spark job. Convergence
  statistics (L-inf delta, changed-row counts, dangling mass) ride on
  it as ``Observation`` metrics instead of separate aggregate jobs —
  at hub-skew scale an extra full-table scan per iteration is real
  money — and the durable state is re-read with the schema it was
  written with, so parquet schema inference launches no job either.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind an eagerly localCheckpointed
    DataFrame that is no longer reachable by any live plan.

    ``Dataset.localCheckpoint`` stores its blocks OUTSIDE the SQL cache
    manager, so ``DataFrame.unpersist()`` cannot reach them and they
    survive until the JVM ContextCleaner eventually collects the RDD —
    which, across a long iterative loop, means storage grows linearly
    with iteration count (measured: hash-min CC at 31.5M edges OOMs an
    8 GiB driver ~20 rounds in; each round's state blocks were still
    resident). An iteration loop knows the exact moment iteration k-1's
    state becomes garbage — the instant iteration k's state finishes
    materializing — so it can release the blocks deterministically
    instead of waiting for GC.

    Best-effort by design: only a LogicalRDD-backed frame (the plan
    shape an eager localCheckpoint produces) is touched; durable
    (parquet-backed) states and anything unexpected are left to the
    ContextCleaner. NEVER call this on a frame that may still be read —
    a released local checkpoint cannot be recomputed.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """persist → eager localCheckpoint → unpersist, in one action: the
    checkpoint job materializes through the cache, and an
    ``Observation`` attached to ``df`` fires on it. Every in-memory
    iteration state and every loop-local materialization of the engine
    goes through here.

    The persist is load-bearing, not an optimization: Spark 4's
    ``localCheckpoint`` copies sizeInBytes stats from the SOURCE plan,
    and join-product estimates COMPOUND across nested checkpoints —
    BigInt digit counts double per level, costing minutes of driver CPU
    within a few dozen nested checkpoints (iteration ~25 of a loop).
    The InMemoryRelation interposed by ``persist`` caps the stats and
    resets the growth at every checkpoint.
    """
    cached = df.persist()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out


def pin(df: DataFrame) -> DataFrame:
    """Materialize a shared sub-plan once so several downstream branches
    reuse the result instead of each recomputing it.

    Fault-tolerance aware: when the SparkContext has a RELIABLE
    checkpoint directory configured (``sc.setCheckpointDir``), uses
    ``df.checkpoint(eager=True)`` — replicated storage that survives
    executor loss, the right choice on a long-lived cluster run.
    Otherwise falls back to :func:`eager_checkpoint` (persist-capped
    eager local checkpoint) — fast, but the blocks are executor-local
    and unreplicated, so losing an executor mid-query aborts the query
    (a retry recomputes from source; results are never wrong).

    Either way this runs a Spark job at plan-construction time — by
    design: the pinned table feeds multiple plan branches, and a
    persist that is unpersisted before any action would never
    materialize, recomputing the sub-plan once per branch.

    Reliable-checkpoint housekeeping: Spark only deletes reliable
    checkpoint files when ``spark.cleaner.referenceTracking.
    cleanCheckpoints=true`` (default false) and the RDD is GC'd — on a
    long-lived cluster that repeatedly calls pinned analytics, set
    that conf (or point the checkpoint dir at storage with a TTL) so
    pins are reclaimed; otherwise each call leaves its materialized
    table under the checkpoint dir until the application exits.
    """
    try:
        ckdir = df.sparkSession.sparkContext.getCheckpointDir()
    except Exception:
        ckdir = None
    if ckdir:
        return df.checkpoint(eager=True)
    return eager_checkpoint(df)


@contextmanager
def iteration_confs(spark: SparkSession, extra: dict | None = None):
    """Pin loop-friendly confs for the duration of an iterative job.

    - AQE off: the loop's partitioning is chosen explicitly; adaptive
      re-planning adds per-iteration driver latency (~25% measured at
      1M edges) for no benefit on a fixed-shape recurrence.
    - auto-broadcast off: iteration state is co-partitioned with the
      edge table; the planner would otherwise rebuild a multi-MB
      broadcast of the state EVERY iteration at small-to-mid scale
      (explicit F.broadcast hints remain honored).
    - ``extra``: caller-pinned confs for the loop's scope (e.g.
      ``spark.sql.shuffle.partitions`` equal to the state partitioning
      so groupBy output co-partitions with the checkpointed state).
    """
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        **(extra or {}),
    }
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# one row per (iteration, state file) in <base>/lineage
LINEAGE_SCHEMA = (
    "run_id string, iteration int, file string, rows long, checksum long, "
    "t_write_ms int, ts timestamp, metrics string"
)


class CheckpointManager:
    """Manages ``<base_dir>/iter_<k>`` state snapshots + a lineage table."""

    def __init__(self, spark: SparkSession, base_dir: str, run_id: str = "run"):
        from ..sources.storage import preferred_format

        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.run_id = run_id
        # Iceberg when the runtime is on the classpath, parquet otherwise
        # (explicit substitution — see sources/storage.py + README)
        self.table_format = preferred_format(spark)
        jvm = spark.sparkContext._jvm
        self._hconf = spark.sparkContext._jsc.hadoopConfiguration()
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.base_dir).getFileSystem(self._hconf)
        self._lineage_path = f"{self.base_dir}/lineage"
        # (iteration, t_write_ms, metrics) awaiting flush_lineage, and the
        # schema the states were written with (one step -> one schema)
        self._pending: list[tuple] = []
        self._schema: StructType | None = None

    # ------------------------------------------------------------ paths
    def _iter_path(self, k: int) -> str:
        return f"{self.base_dir}/iter_{k:05d}"

    def _exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    # --------------------------------------------------------- resume
    def completed_iterations(self) -> list[int]:
        from ..sources.storage import state_complete

        base = self._Path(self.base_dir)
        if not self._fs.exists(base):
            return []
        out = []
        for st in self._fs.listStatus(base):
            name = st.getPath().getName()
            if name.startswith("iter_") and state_complete(
                self._fs, self._Path, f"{self.base_dir}/{name}", self.table_format
            ):
                out.append(int(name[5:]))
        return sorted(out)

    def latest(self) -> tuple[int, DataFrame] | None:
        from ..sources.storage import read_state

        done = self.completed_iterations()
        if not done:
            return None
        k = done[-1]
        return k, read_state(self.spark, self._iter_path(k), self.table_format)

    # ----------------------------------------------------------- save
    def save(self, df: DataFrame, iteration: int, metrics: dict | None = None) -> DataFrame:
        """Write iteration state and return it re-read (lineage-truncated,
        durable). The write is the iteration's only Spark job: attached
        Observations fire on it, the re-read reuses ``df``'s schema
        instead of inferring it, and the iteration's lineage rows are
        queued for :meth:`flush_lineage`."""
        from ..sources.storage import read_state, write_state

        path = self._iter_path(iteration)
        t0 = time.time()
        write_state(df, path, self.table_format)
        t_write_ms = int((time.time() - t0) * 1000)
        self._pending.append((iteration, t_write_ms, str(metrics or {})))
        self._schema = df.schema
        return read_state(self.spark, path, self.table_format, schema=df.schema)

    # -------------------------------------------------------- lineage
    def backfill_lineage(self, schema: StructType) -> None:
        """Queue lineage rows, with null ``t_write_ms`` and ``metrics``,
        for every completed iteration that has none: a run killed
        before its :meth:`flush_lineage` wrote its states but not their
        lineage. A directory whose table was written under the old
        hidden name ``_lineage`` has none under ``lineage`` either, so
        all its iterations are queued."""
        have: set[int] = set()
        if self._exists(self._lineage_path):
            have = {
                r.iteration
                for r in self.lineage().select("iteration").distinct().collect()
            }
        self._pending += [
            (k, None, None) for k in self.completed_iterations() if k not in have
        ]
        self._schema = schema

    def flush_lineage(self) -> None:
        """Append the per-file rows (count plus order-insensitive
        ``BIT_XOR(xxhash64(*))`` checksum) of every queued iteration to
        ``<base>/lineage``: one multi-path scan with the known schema,
        grouped by ``input_file_name()``, the iteration parsed from the
        file's ``iter_<k>`` directory and its write time and metrics
        looked up from a literal map — one Spark job."""
        from ..sources.storage import read_state

        if not self._pending:
            return
        entries, self._pending = self._pending, []
        states = read_state(
            self.spark,
            [self._iter_path(k) for k, _, _ in entries],
            self.table_format,
            schema=self._schema,
        )
        t_write = F.create_map(*(F.lit(x) for k, t, _ in entries for x in (k, t)))
        metrics = F.create_map(*(F.lit(x) for k, _, m in entries for x in (k, m)))
        it = F.col("iteration")
        (
            states.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count("*").alias("rows"),
                F.bit_xor(F.xxhash64(*states.columns)).alias("checksum"),
            )
            .withColumn(
                "iteration",
                F.regexp_extract("file", r".*/iter_(\d+)/", 1).cast("int"),
            )
            .select(
                F.lit(self.run_id).alias("run_id"),
                "iteration",
                "file",
                "rows",
                "checksum",
                t_write[it].cast("int").alias("t_write_ms"),
                F.current_timestamp().alias("ts"),
                metrics[it].cast("string").alias("metrics"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self._lineage_path)
        )

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage_path)


def iterate(
    spark: SparkSession,
    state0: DataFrame,
    step,
    max_iter: int,
    checkpoint_dir: str | None = None,
    run_id: str = "run",
    stop=None,
):
    """Generic driver loop shared by the iterative algorithms.

    ``step(state, k) -> (new_state, metrics_dict, observation_or_None)``
    — attach convergence statistics to ``new_state`` via
    ``pyspark.sql.Observation`` so they ride the materializing action
    (ONE Spark job per iteration, no separate aggregate jobs).

    ``stop(obs_metrics: dict, k) -> bool`` decides convergence from the
    observed metrics; a 3-arg ``stop(obs_metrics, k, state)`` also
    receives the just-MATERIALIZED state (durable or localCheckpointed)
    so convergence rules may run a cheap follow-up aggregate on it
    without recomputing the step. With ``checkpoint_dir``, state is
    durable and the loop resumes from the last complete iteration.

    Returns (final_state, iterations_done, converged_flag).
    """
    import inspect

    stop_arity = len(inspect.signature(stop).parameters) if stop is not None else 0
    mgr = CheckpointManager(spark, checkpoint_dir, run_id) if checkpoint_dir else None
    k0 = 0
    state = state0
    done = False
    try:
        if mgr is not None:
            got = mgr.latest()
            if got is not None:
                k0, state = got
                mgr.backfill_lineage(state.schema)
        if k0 == 0:
            state = state.localCheckpoint(eager=True)

        k = k0
        for k in range(k0 + 1, max_iter + 1):
            new_state, metrics, obs = step(state, k)
            if mgr is not None:
                new_state = mgr.save(new_state, k, metrics)  # action: write
            else:
                new_state = eager_checkpoint(new_state)  # action
            obs_metrics = dict(obs.get) if obs is not None else {}
            prev = state
            state = new_state
            # iteration k-1's blocks are garbage the moment k materialized
            # (bounds storage at 2 states instead of growing with rounds)
            release_local_checkpoint(prev)
            if stop is not None and (
                stop(obs_metrics, k, state) if stop_arity >= 3 else stop(obs_metrics, k)
            ):
                done = True
                break
    finally:
        # convergence, max_iter and exceptions alike: one lineage pass
        if mgr is not None:
            mgr.flush_lineage()
    return state, k, done
