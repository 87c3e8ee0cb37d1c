"""HyperBall: approximate neighbourhood function + geometric centralities
via per-node HLL counters.

Reference: algo/HyperBall.java:80-137 — each node keeps a HyperLogLog
counter of its ball; iteration t merges every node's counter with its
successors' counters by register-wise max (HyperBall.java:907-914);
NF(t) = sum of per-node estimates; stop when no counter changed
(``modified() == 0`` contract, HyperBall.java:134-137). Per-iteration
ball-size deltas feed the discounted centralities exactly as in
HyperBall.java:960-967 (harmonic / closeness / Lin / custom discount
functions, HyperBall.java:227-250).

Spark-first representation — **packed wide-column registers**:

    state(node: long, r0..r{m-1}: tinyint, est/harmonic/sumdist: double)

- the m registers are m tinyint COLUMNS, so the register-wise max IS
  ``groupBy(node).agg(max(r0)..max(r_{m-1}))`` — all JVM, whole-stage
  codegen, with map-side partial aggregation collapsing hub fan-in.
  (A long-form (node, reg, val) encoding costs ~m x more shuffle rows;
  an array<binary> encoding forces Python into the loop. Measured: the
  wide form beats the sparse long form — see BENCH/BASELINE.md.)
- the centrality accumulators ride the SAME aggregation: message rows
  carry null accumulators, the state row carries the real ones, and
  ``max`` ignores nulls — so one shuffle per iteration, no extra join;
- NF(t) and the convergence signal (per-node changed flags, summed)
  are Observations on the materializing action: ONE Spark job per
  iteration, no separate estimate pass;
- **systolic message filtering** (HyperBall.java:120-127, the systolic
  check at :885): each state row carries a ``chg`` flag — did the
  node's register file grow in the last merge? (registers only grow,
  so per-node register SUM growth <=> change). Messages are generated
  ONLY from ``e |><| changed`` — in the convergence tail (many
  iterations, few changes) the per-iteration shuffle volume is
  O(arcs into changed nodes), not O(|E|). Once the changed set is
  small it is broadcast, eliminating the message-side shuffle
  entirely (the reference's "local mode" under 1% changed). The
  merge itself is ``state LEFT JOIN msg_max ON node`` with
  ``greatest()`` per register: state stays hash-partitioned on
  ``node`` across iterations (localCheckpoint preserves the physical
  partitioning), so the big side of the merge never re-shuffles —
  only the (small) aggregated message table moves.
- **delta-state tail** (the round-3 successor to systolic filtering —
  the measured tail floor was the FULL-STATE rewrite, ~n rows x m
  register columns re-checkpointed per round even when 90 nodes
  changed; BENCH/BASELINE.md §11): once the changed set drops under
  ``delta_enter`` the state splits into an immutable ``base``
  (checkpointed once, then only SCANNED — the cheap, columnar,
  embarrassingly-parallel direction) plus a small ``overlay`` of
  rows that have diverged from base since the split. Each tail round
  touches only arcs into changed nodes (broadcast join), rows
  receiving messages (base/overlay lookup by broadcast key), and
  rewrites ONLY the overlay — per-round checkpoint work is
  O(|diverged|), not O(n). NF stays EXACT: the round's contribution
  is observed as a decimal sum of round9(est_new) - round9(est_old)
  over changed rows (unchanged rows cancel exactly), seeded by one
  exact decimal sum at mode entry, so the NF curve is bit-identical
  to the dense path's full resum. The overlay compacts into a new
  base when it outgrows ``overlay_cap``, and the loop falls back to
  the dense representation if the changed set re-expands past
  ``4 * delta_enter`` (registers only grow, but per-round change
  counts are not monotone).

Design bound: the packed path caps ``log2m`` at 8 (256 register
columns). Beyond that the wide-column form needs m aggregate
expressions per merge, which is where Spark codegen (and the planner's
expression-tree handling) falls off a cliff; the considered
alternatives don't beat it — SWAR-packing 8 registers per int64 column
still needs a per-lane extract+max per register inside the aggregate
(same m expression count, wider rows), and a binary-blob state forces
the merge into Python (the measured pagerank_csr lesson: Arrow transfer
of full state per iteration loses to JVM shuffle). log2m=8 gives RSD
~6.5% — tighter than the reference's own default (log2m=4..6,
HyperBall CLI) — so the bound is above every practical setting. For
accuracy studies that DO need more registers, ``hyperball_wide``
(below) serves log2m in (8, 14] by splitting the register file into
groups of 64 columns keyed (node, grp): constant codegen size, rows
scale as n x m/64.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, functions as F

from ..plans.iterate import eager_checkpoint, iteration_confs, release_local_checkpoint


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


_SIGN_MASK = 0x7FFFFFFFFFFFFFFF


@dataclass
class HyperBallResult:
    nf: list[float]  # nf[t] = approx #pairs within distance t (t=0..T)
    state: DataFrame  # (node, r0..r{m-1}, est, harmonic, sumdist, disc_*)
    iterations: int
    converged: bool
    log2m: int
    # per-iteration evidence: [{"t", "sec", "changed", "mode"}] where
    # ``changed`` is the number of nodes whose registers grew THIS round
    # and ``mode`` is the message-generation strategy used ("full" |
    # "shuffle" | "broadcast") — the systolic-tail measurement the
    # reference reports as "nodes scanned" (HyperBall.java:885).
    per_round: list = None

    @property
    def counters(self) -> DataFrame:  # back-compat alias
        return self.state

    def centralities(self) -> DataFrame:
        """Per-node geometric centralities from the accumulated deltas
        (HyperBall.java:960-967): reachable ~ |ball|, harmonic = sum
        delta(t)/t, closeness = 1/sum(t*delta(t)), lin = |ball|^2 *
        closeness (1.0 for nodes reaching nothing — the reference's
        convention for isolated nodes)."""
        disc = [c for c in self.state.columns if c.startswith("disc_")]
        return self.state.select(
            "node",
            F.col("est").alias("reachable"),
            "harmonic",
            F.when(F.col("sumdist") > 0, 1.0 / F.col("sumdist"))
            .otherwise(0.0)
            .alias("closeness"),
            F.when(
                F.col("sumdist") > 0, F.col("est") * F.col("est") / F.col("sumdist")
            )
            .otherwise(1.0)
            .alias("lin"),
            *disc,
        )


def _estimate_expr(m: int, reg_cols: list[str]):
    """Standard HLL estimate with small-range (linear counting)
    correction, as one JVM expression tree over the register columns."""
    z = None
    nnz = None
    for c in reg_cols:
        term = F.pow(F.lit(2.0), -F.col(c).cast("double"))
        one = F.when(F.col(c) > 0, 1).otherwise(0)
        z = term if z is None else z + term
        nnz = one if nnz is None else nnz + one
    e_raw = F.lit(_alpha(m) * m * m) / z
    return F.when(
        (e_raw < 2.5 * m) & (nnz < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - nnz)),
    ).otherwise(e_raw)


def hyperball(
    edges: DataFrame,
    log2m: int = 5,
    max_t: int = 64,
    num_partitions: int | None = None,
    seed: int = 31,
    discounts: dict[str, Callable[[int], float]] | None = None,
    systolic: bool = True,
    delta_tail: bool = True,
    delta_enter: int | None = None,
    overlay_cap: int = 1_000_000,
    delta_exit: int | None = None,
) -> HyperBallResult:
    """Approximate neighbourhood function + centralities of the directed
    graph. ``discounts`` adds one accumulator column ``disc_<name>`` per
    custom discount function f: acc += delta(t) * f(t)
    (HyperBall discount-function extension surface, HyperBall.java:227-250).
    ``systolic=False`` disables the changed-node message filter (every
    round scans all |E| arcs) — kept only for A/B measurement of the
    systolic tail win (tools/bench_hyperball.py). ``delta_tail=False``
    disables the base+overlay tail representation (see module docstring)
    so tail rounds rewrite the full state — again kept for A/B
    measurement; results are bit-identical either way. ``delta_enter``
    defaults to min(100_000, n // 100): the reference's "local mode"
    engages under ~1% changed (HyperBall.java:120-127), and below that
    fraction the per-round overlay bookkeeping (3-4 small driver jobs)
    is guaranteed to undercut the full-state rewrite it replaces; an
    explicit value is taken as an absolute changed-node threshold.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if not 2 <= log2m <= 8:
        raise ValueError(
            "log2m must be in [2, 8] for the packed register file; "
            "use hyperball_wide for log2m in (8, 14]"
        )
    m = 1 << log2m
    reg_cols = [f"r{j}" for j in range(m)]
    discounts = discounts or {}
    acc_cols = ["est", "harmonic", "sumdist"] + [f"disc_{k}" for k in discounts]

    e = edges.select("src", "dst").distinct().repartition(num_partitions, "dst").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if delta_enter is None:
        delta_enter = min(100_000, max(n // 100, 1))
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        empty = spark.createDataFrame([], "node long")
        return HyperBallResult([], empty, 0, True, log2m)

    # classic HLL add of hash(node) (HyperBall.java:639 seeds each counter
    # with its own node): reg = h mod m (pmod — abs() would fold the sign
    # bit and break on Long.MIN_VALUE), rho = 1 + leading zeros of the
    # sign-masked remaining 63-log2m bits (highest-set-bit position via
    # the base-2 string length)
    h = F.xxhash64(F.col("node"), F.lit(seed))
    rest = F.shiftright(h.bitwiseAND(F.lit(_SIGN_MASK)), log2m)
    budget = 63 - log2m
    rho = F.when(rest == F.lit(0), F.lit(budget + 1)).otherwise(
        F.lit(budget + 1) - F.length(F.conv(rest.cast("string"), 10, 2))
    )
    reg = F.pmod(h, F.lit(m)).cast("int")
    init_regs = [
        F.when(reg == j, rho).otherwise(0).cast("byte").alias(c)
        for j, c in enumerate(reg_cols)
    ]
    est0 = _estimate_expr(m, reg_cols)
    rt_expr = None
    for c in reg_cols:
        t_ = F.col(c).cast("long")
        rt_expr = t_ if rt_expr is None else rt_expr + t_
    state0 = (
        nodes.select("node", *init_regs)
        .select(
            "node",
            *reg_cols,
            est0.alias("est"),
            F.lit(0.0).alias("harmonic"),
            F.lit(0.0).alias("sumdist"),
            *[F.lit(0.0).alias(f"disc_{k}") for k in discounts],
            rt_expr.alias("rt"),
            F.lit(True).alias("chg"),
        )
        .repartition(num_partitions, "node")
    )

    # NF sums accumulate in DECIMAL(38,9): exact, order-independent
    # addition of the rounded per-node summands. The reference compensates
    # the same global sum with Kahan summation (HyperBall.java:71); a
    # float64 sum over a shuffled aggregation is order-NONdeterministic
    # and starts losing low bits around 10^10 summands, decimal is exact.
    nf_sum = F.sum(F.col("est").cast("decimal(38,9)")).cast("double")

    state = eager_checkpoint(state0)
    nf = [float(state.agg(nf_sum).collect()[0][0])]

    # changed sets at most this many rows are broadcast for the message
    # join ("local mode"): no shuffle at all on the message side, just a
    # scan of the cached pre-partitioned edge table
    broadcast_max = 500_000

    converged = False
    n_changed = None  # nchg observed last iteration (None = first)
    t = 0
    per_round: list[dict] = []
    import time as _time
    from decimal import Decimal

    d38 = "decimal(38,9)"
    row_cols = ["node", *reg_cols, *acc_cols, "rt"]  # base/overlay schema
    est_new = _estimate_expr(m, reg_cols)
    delta = est_new - F.col("est")

    def _acc_updates(t: int):
        return [
            (F.col("harmonic") + delta / t).alias("harmonic"),
            (F.col("sumdist") + delta * t).alias("sumdist"),
            *[
                (F.col(f"disc_{k}") + delta * F.lit(float(fn(t)))).alias(f"disc_{k}")
                for k, fn in discounts.items()
            ],
        ]

    # ---- delta-state tail bookkeeping (see module docstring) ----------
    delta_mode = False
    base = None  # immutable full state, scanned but never rewritten
    overlay = None  # rows diverged from base since the split (small)
    last_upd = None  # rows changed in the previous round (small)
    overlay_n = 0
    nf_dec = None  # exact decimal running NF total
    overlay_schema = ", ".join(
        f"`{c}` {'long' if c in ('node', 'rt') else ('byte' if c in reg_cols else 'double')}"
        for c in row_cols
    )

    def _compacted() -> DataFrame:
        """base with the overlay folded in (one full-state plan)."""
        kept = base.select(*row_cols).join(
            F.broadcast(overlay.select("node")), "node", "left_anti"
        )
        return kept.unionByName(overlay.select(*row_cols))

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        for t in range(1, max_t + 1):
            _t0 = _time.time()
            if (
                systolic
                and delta_tail
                and not delta_mode
                and n_changed is not None
                and 0 < n_changed <= delta_enter
            ):
                # enter delta mode: current state becomes the immutable
                # base; overlay starts empty; exact NF total seeded once
                base = state
                last_upd = eager_checkpoint(state.where("chg").select(*row_cols))
                overlay = eager_checkpoint(spark.createDataFrame([], overlay_schema))
                overlay_n = 0
                nf_dec = state.agg(
                    F.sum(F.col("est").cast(d38)).alias("nf")
                ).collect()[0][0]
                delta_mode = True

            if delta_mode:
                mode = "delta"
                ch = last_upd.select(F.col("node").alias("dst"), *reg_cols)
                magg = (
                    e.join(F.broadcast(ch), "dst")
                    .select(F.col("src").alias("node"), *reg_cols)
                    .groupBy("node")
                    .agg(*[F.max(c).alias(f"m_{c}") for c in reg_cols])
                    .persist()
                )
                # receivers = predecessors of changed nodes — can be much
                # larger than the changed set (a changed hub fans out to
                # every in-neighbor), so the receiver-side joins pick
                # broadcast vs shuffle_hash by measured size (the count
                # materializes the persisted message aggregate, which the
                # update job then reuses from cache)
                nrecv = magg.count()
                _wrap = (
                    F.broadcast
                    if nrecv <= broadcast_max
                    else (lambda df: df.hint("shuffle_hash"))
                )
                ovk = overlay.select("node")
                # receivers split by where their current row lives
                magg_ov = magg.join(F.broadcast(ovk), "node")
                magg_rest = magg.join(F.broadcast(ovk), "node", "left_anti")
                cur = (
                    base.select(*row_cols)
                    .join(_wrap(magg_rest), "node")
                    .unionByName(overlay.join(_wrap(magg_ov), "node"))
                )
                merged = cur.select(
                    "node",
                    *[
                        F.greatest(F.col(c), F.col(f"m_{c}")).alias(c)
                        for c in reg_cols
                    ],
                    *acc_cols,
                    "rt",
                )
                obs = Observation()
                upd_body = (
                    merged.select(
                        "node",
                        *reg_cols,
                        est_new.alias("est_n"),
                        F.col("est").alias("est_o"),
                        *_acc_updates(t),
                        rt_expr.alias("rt"),
                        (rt_expr > F.col("rt")).alias("chg"),
                    )
                    .where("chg")
                    .observe(
                        obs,
                        F.count(F.lit(1)).alias("nchg"),
                        # decimal(30,9), NOT (38,9): subtracting two
                        # (38,9)s needs precision 39, and Spark resolves
                        # the overflow by silently dropping to scale 8 —
                        # rounding each row's increment. (30,9) keeps the
                        # difference exact at scale 9 and the sum grows
                        # back to (38,9), so the running NF total stays
                        # bit-identical to the dense path's full resum.
                        F.sum(
                            F.col("est_n").cast("decimal(30,9)")
                            - F.col("est_o").cast("decimal(30,9)")
                        ).alias("dnf"),
                    )
                )
                # coalesce before checkpointing: the tail frames are built
                # as unions of prior checkpointed frames, and a union's
                # partition count is the SUM of its inputs' — without the
                # cap, overlay_t = keep_{t-1} U upd_t doubles the stored
                # partition count every round (2^t tasks by round t)
                upd = eager_checkpoint(
                    upd_body.select(
                        "node",
                        *reg_cols,
                        F.col("est_n").alias("est"),
                        *[c for c in acc_cols if c != "est"],
                        "rt",
                    ).coalesce(num_partitions)
                )
                magg.unpersist()
                got = obs.get
                n_changed = int(got.get("nchg") or 0)
                prev_upd = last_upd
                last_upd = upd
                release_local_checkpoint(prev_upd)
                if n_changed > 0:
                    obs2 = Observation()
                    new_overlay = (
                        overlay.join(
                            F.broadcast(upd.select("node")), "node", "left_anti"
                        )
                        .unionByName(upd)
                        .observe(obs2, F.count(F.lit(1)).alias("n"))
                    )
                    prev_overlay = overlay
                    overlay = eager_checkpoint(new_overlay.coalesce(num_partitions))
                    release_local_checkpoint(prev_overlay)
                    overlay_n = int(obs2.get.get("n"))
                    nf_dec = nf_dec + (got.get("dnf") or Decimal(0))
                per_round.append(
                    {
                        "t": t,
                        "sec": round(_time.time() - _t0, 2),
                        "changed": n_changed,
                        "mode": mode,
                    }
                )
                if n_changed == 0:
                    converged = True
                    t -= 1
                    break
                nf.append(float(nf_dec))
                if n_changed > (
                    delta_exit if delta_exit is not None else 4 * delta_enter
                ):
                    # changed set re-expanded: fall back to the dense
                    # representation (chg flags rebuilt from last_upd)
                    dense = (
                        _compacted()
                        .join(
                            F.broadcast(
                                last_upd.select("node", F.lit(True).alias("chg2"))
                            ),
                            "node",
                            "left",
                        )
                        .select(
                            *row_cols,
                            F.coalesce("chg2", F.lit(False)).alias("chg"),
                        )
                        # restore the hash partitioning the dense loop's
                        # shuffle_hash merge relies on
                        .repartition(num_partitions, "node")
                    )
                    prev = [base, overlay, last_upd]
                    state = eager_checkpoint(dense)
                    for df in prev:
                        release_local_checkpoint(df)
                    base = overlay = last_upd = None
                    delta_mode = False
                elif overlay_n > overlay_cap:
                    # compact: one full rewrite, then the overlay restarts
                    # empty (last_upd survives — next round's messages)
                    prev = [base, overlay]
                    base = eager_checkpoint(
                        _compacted().repartition(num_partitions, "node")
                    )
                    for df in prev:
                        release_local_checkpoint(df)
                    overlay = eager_checkpoint(
                        spark.createDataFrame([], overlay_schema)
                    )
                    overlay_n = 0
                continue

            if systolic:
                changed = state.where("chg").select(
                    F.col("node").alias("dst"), *reg_cols
                )
            else:
                changed = state.select(F.col("node").alias("dst"), *reg_cols)
            if systolic and n_changed is not None and n_changed <= broadcast_max:
                mode = "broadcast"
                joined = e.join(F.broadcast(changed), "dst")
            else:
                mode = "shuffle" if systolic else "full"
                joined = e.join(changed.hint("shuffle_hash"), "dst")
            magg = (
                joined.select(F.col("src").alias("node"), *reg_cols)
                .groupBy("node")
                .agg(*[F.max(c).alias(f"m_{c}") for c in reg_cols])
            )
            merged = state.join(magg.hint("shuffle_hash"), "node", "left").select(
                "node",
                *[
                    F.greatest(F.col(c), F.col(f"m_{c}")).alias(c)
                    for c in reg_cols
                ],
                *acc_cols,
                "rt",
            )
            obs = Observation()
            new_state = merged.select(
                "node",
                *reg_cols,
                est_new.alias("est"),
                *_acc_updates(t),
                rt_expr.alias("rt"),
                (rt_expr > F.col("rt")).alias("chg"),
            ).observe(
                obs,
                F.sum(F.col("chg").cast("long")).alias("nchg"),
                nf_sum.alias("nf"),
            )
            prev_state = state
            state = eager_checkpoint(new_state)
            # round t-1's register blocks are garbage once round t is
            # materialized; without this, storage grows linearly in t
            release_local_checkpoint(prev_state)
            got = obs.get
            n_changed = int(got.get("nchg"))
            per_round.append(
                {
                    "t": t,
                    "sec": round(_time.time() - _t0, 2),
                    "changed": n_changed,
                    "mode": mode,
                }
            )
            if n_changed == 0:
                converged = True
                t -= 1  # this round changed no register
                break
            nf.append(float(got.get("nf")))

    if delta_mode:
        final = eager_checkpoint(_compacted())
        for df in (base, overlay, last_upd):
            release_local_checkpoint(df)
        state = final
    e.unpersist()
    nodes.unpersist()
    return HyperBallResult(
        nf, state.drop("rt", "chg"), t, converged, log2m, per_round
    )


def hyperball_wide(
    edges: DataFrame,
    log2m: int,
    max_t: int = 64,
    num_partitions: int | None = None,
    seed: int = 31,
    discounts: dict[str, Callable[[int], float]] | None = None,
) -> HyperBallResult:
    """HyperBall for log2m in (8, 14] — beyond the packed wide-column
    cap (256 tinyint columns). The m registers split into groups of 64:
    the register relation is (node, grp, r0..r63), so a merge is still a
    64-expression greatest()/max() — constant codegen size — while rows
    scale as n x m/64. Both relations stay hash-partitioned on ``node``
    (a subset of the (node, grp) join key, so the big side never
    re-shuffles) and the per-node combine (z, nnz, register-sum) is a
    groupBy over data already clustered by node.

    Determinism: the HLL indicator z = sum 2^-r is computed in EXACT
    integer arithmetic — each group row contributes sum 2^(R - r_j) as
    int64 (R = 64 - log2m bounds the register value, so a 64-register
    partial stays under 2^(70-log2m) < 2^62 for log2m > 8), and the
    cross-group total accumulates in decimal(38,0) — a float z summed
    across group rows would make the estimate depend on task order.
    The reference reaches the same regime through its log2m parameter
    (HyperBall.java:227-250; register arrays sized 2^log2m). For
    log2m <= 8 the packed path (``hyperball``) stays the right tool;
    no delta-state tail here (the wide regime serves accuracy studies,
    not the convergence-tail workload), and tests pin the grouped
    register files bit-identical to an independent numpy propagation.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if not 8 < log2m <= 14:
        raise ValueError("hyperball_wide is for log2m in (8, 14]; use hyperball")
    m = 1 << log2m
    G = 64
    n_groups = m // G
    reg_cols = [f"r{j}" for j in range(G)]
    discounts = discounts or {}
    R = 64 - log2m  # max register value (budget + 1)

    e = edges.select("src", "dst").distinct().repartition(num_partitions, "dst").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        empty = spark.createDataFrame([], "node long")
        return HyperBallResult([], empty, 0, True, log2m)

    # same seeded-register hash as the packed path (HyperBall.java:639)
    h = F.xxhash64(F.col("node"), F.lit(seed))
    rest = F.shiftright(h.bitwiseAND(F.lit(_SIGN_MASK)), log2m)
    budget = 63 - log2m
    rho = F.when(rest == F.lit(0), F.lit(budget + 1)).otherwise(
        F.lit(budget + 1) - F.length(F.conv(rest.cast("string"), 10, 2))
    )
    reg = F.pmod(h, F.lit(m)).cast("int")
    regs0 = (
        nodes.select(
            "node",
            (reg % G).alias("off"),
            F.floor(reg / G).cast("int").alias("home"),
            rho.cast("byte").alias("rho"),
        )
        .select(
            "node",
            "off",
            "home",
            "rho",
            F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("grp"),
        )
        .select(
            "node",
            "grp",
            *[
                F.when(
                    (F.col("grp") == F.col("home")) & (F.col("off") == jj),
                    F.col("rho"),
                )
                .otherwise(F.lit(0))
                .cast("byte")
                .alias(c)
                for jj, c in enumerate(reg_cols)
            ],
        )
        .repartition(num_partitions, "node")
    )

    # exact per-row partials over the 64 registers of one group
    def _fold(term_of):
        expr = None
        for c in reg_cols:
            term = term_of(c)
            expr = term if expr is None else expr + term
        return expr

    # F.shiftleft only takes a literal shift amount — spell the
    # column-dependent shift in SQL
    zint = _fold(
        lambda c: F.expr(f"shiftleft(cast(1 as bigint), {R} - cast({c} as int))")
    )
    nnzp = _fold(lambda c: F.when(F.col(c) > 0, 1).otherwise(0))
    rtp = _fold(lambda c: F.col(c).cast("long"))

    def _est_from(zs, nnz):
        # z = zs / 2^R with zs an exact integer (decimal) total
        z = zs.cast("double") / F.lit(float(2**R))
        e_raw = F.lit(_alpha(m) * m * m) / z
        return F.when(
            (e_raw < 2.5 * m) & (nnz < m),
            F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - nnz)),
        ).otherwise(e_raw)

    def _per_node(r):
        return r.groupBy("node").agg(
            F.sum(zint.cast("decimal(38,0)")).alias("zs"),
            F.sum(nnzp).alias("nnz"),
            F.sum(rtp).alias("rt"),
        )

    d38 = "decimal(38,9)"
    nf_sum = F.sum(F.col("est").cast(d38)).cast("double")

    regs = eager_checkpoint(regs0)
    accs = eager_checkpoint(
        _per_node(regs).select(
            "node",
            _est_from(F.col("zs"), F.col("nnz")).alias("est"),
            F.lit(0.0).alias("harmonic"),
            F.lit(0.0).alias("sumdist"),
            *[F.lit(0.0).alias(f"disc_{k}") for k in discounts],
            "rt",
            F.lit(True).alias("chg"),
        )
    )
    nf = [float(accs.agg(nf_sum).collect()[0][0])]

    broadcast_max = 500_000
    converged = False
    n_changed = None
    t = 0
    per_round: list[dict] = []
    import time as _time

    with iteration_confs(spark, {"spark.sql.shuffle.partitions": str(num_partitions)}):
        for t in range(1, max_t + 1):
            _t0 = _time.time()
            chk = accs.where("chg").select("node")
            small = n_changed is not None and n_changed <= broadcast_max
            mode = "broadcast" if small else "shuffle"
            wrapk = F.broadcast if small else (lambda df: df.hint("shuffle_hash"))
            ch = (
                regs.join(wrapk(chk), "node")
                .select(F.col("node").alias("dst"), "grp", *reg_cols)
            )
            joined = (
                e.join(F.broadcast(ch), "dst")
                if small
                else e.join(ch.hint("shuffle_hash"), "dst")
            )
            magg = (
                joined.select(F.col("src").alias("node"), "grp", *reg_cols)
                .groupBy("node", "grp")
                .agg(*[F.max(c).alias(f"m_{c}") for c in reg_cols])
                # cluster message maxima by node so the register merge
                # co-partitions with the checkpointed register relation
                .repartition(num_partitions, "node")
            )
            merged = regs.join(
                magg.hint("shuffle_hash"), ["node", "grp"], "left"
            ).select(
                "node",
                "grp",
                *[F.greatest(F.col(c), F.col(f"m_{c}")).alias(c) for c in reg_cols],
            )
            prev_regs = regs
            regs = eager_checkpoint(merged)
            release_local_checkpoint(prev_regs)

            est_new = _est_from(F.col("zs"), F.col("nnz"))
            delta = est_new - F.col("est")
            obs = Observation()
            new_accs = (
                accs.select("node", "est", "harmonic", "sumdist",
                            *[f"disc_{k}" for k in discounts],
                            F.col("rt").alias("rt_o"))
                .join(_per_node(regs).hint("shuffle_hash"), "node")
                .select(
                    "node",
                    est_new.alias("est"),
                    (F.col("harmonic") + delta / t).alias("harmonic"),
                    (F.col("sumdist") + delta * t).alias("sumdist"),
                    *[
                        (F.col(f"disc_{k}") + delta * F.lit(float(fn(t)))).alias(
                            f"disc_{k}"
                        )
                        for k, fn in discounts.items()
                    ],
                    "rt",
                    (F.col("rt") > F.col("rt_o")).alias("chg"),
                )
                .observe(
                    obs,
                    F.sum(F.col("chg").cast("long")).alias("nchg"),
                    nf_sum.alias("nf"),
                )
            )
            prev_accs = accs
            accs = eager_checkpoint(new_accs)
            release_local_checkpoint(prev_accs)
            got = obs.get
            n_changed = int(got.get("nchg"))
            per_round.append(
                {
                    "t": t,
                    "sec": round(_time.time() - _t0, 2),
                    "changed": n_changed,
                    "mode": mode,
                }
            )
            if n_changed == 0:
                converged = True
                t -= 1
                break
            nf.append(float(got.get("nf")))
    result_state = accs.drop("rt", "chg")
    e.unpersist()
    nodes.unpersist()
    return HyperBallResult(nf, result_state, t, converged, log2m, per_round)


def combine_nfs(nfs: list[list[float]]) -> list[float]:
    """Pointwise mean of several NF runs
    (ApproximateNeighbourhoodFunctions.combine, line 25-30 analog).
    Shorter runs are extended with their last (saturated) value."""
    if not nfs:
        return []
    T = max(len(nf) for nf in nfs)
    ext = [nf + [nf[-1]] * (T - len(nf)) for nf in nfs]
    return [sum(nf[t] for nf in ext) / len(ext) for t in range(T)]


def jackknife_nf(nfs: list[list[float]]):
    """Leave-one-out jackknife over NF runs: returns (mean, stderr)
    pointwise lists (ApproximateNeighbourhoodFunctions.jackknife)."""
    import math

    n = len(nfs)
    if n < 2:
        raise ValueError("jackknife needs >= 2 runs")
    T = max(len(nf) for nf in nfs)
    ext = [nf + [nf[-1]] * (T - len(nf)) for nf in nfs]
    mean = [sum(nf[t] for nf in ext) / n for t in range(T)]
    loo = [
        [
            (mean[t] * n - ext[i][t]) / (n - 1)
            for t in range(T)
        ]
        for i in range(n)
    ]
    stderr = [
        math.sqrt(
            (n - 1) / n * sum((loo[i][t] - mean[t]) ** 2 for i in range(n))
        )
        for t in range(T)
    ]
    return mean, stderr


def nf_statistics(nf: list[float]) -> dict:
    """Derived distance statistics from an NF curve (the reference's
    four-degrees-of-separation outputs): average distance, SPID
    (variance-to-mean ratio of the distance distribution — < 1 means a
    'proper' web-like graph), and the 90% effective diameter."""
    if len(nf) < 2:
        return {"avg_distance": 0.0, "spid": 0.0, "effective_diameter": 0.0}
    # distance pmf from NF increments over reachable pairs (dist >= 1)
    total = nf[-1] - nf[0]
    if total <= 0:
        return {"avg_distance": 0.0, "spid": 0.0, "effective_diameter": 0.0}
    pmf = [(nf[t] - nf[t - 1]) / total for t in range(1, len(nf))]
    mean = sum(t * p for t, p in zip(range(1, len(nf)), pmf))
    var = sum((t - mean) ** 2 * p for t, p in zip(range(1, len(nf)), pmf))
    return {
        "avg_distance": mean,
        "spid": var / mean if mean > 0 else 0.0,
        "effective_diameter": effective_diameter(nf, 0.9),
    }


def effective_diameter(nf: list[float], quantile: float = 0.9) -> float:
    """Interpolated effective diameter from an NF curve
    (NeighbourhoodFunction.effectiveDiameter analog, used by
    test/algo/EstimateEffectiveDiameterTest.java:41)."""
    if not nf:
        return 0.0
    target = quantile * nf[-1]
    for t in range(len(nf)):
        if nf[t] >= target:
            if t == 0:
                return 0.0
            prev = nf[t - 1]
            return (t - 1) + (target - prev) / (nf[t] - prev)
    return float(len(nf) - 1)
