"""Link-graph benchmark: one workload per invocation.

    python3 perfbench/run.py --workload small-graph-iterative --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts Spark with
``webgraph_spark.session.get_spark`` (only the master set) and writes a
seeded transcripts table with the engine's own generator. Each round then
times the engine's public calls phase by phase (ingest, PageRank,
connected components, label propagation, HyperBall, triangles, BVGraph
store and load); rounds repeat until ``--seconds`` of phase time is
measured. Every phase's output is checked against an independent
reference (``reference.py``) outside the timed section. With ``--trace
1`` each phase runs under its own job group and the status store is read
after it (``tracing.py``); the codec probes run too. The last line of
standard output is the JSON result; the per-run artifact goes to
``perfbench/out/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np

import reference as ref
import tracing

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT_DIR = BENCH_DIR / "out"

# Generator shape of the sf0.1 graph (max_turns=40, n_tools=1000); the
# other TranscriptSpec fields keep the engine's defaults.
MAX_TURNS = 40
N_TOOLS = 1000
LPA_ROUNDS = 4
HYPERBALL_LOG2M = 5
HYPERBALL_ROUNDS = 2
# Every table also holds CHAINS tool-free conversations of CHAIN_TURNS
# turns: isolated paths longer than the random part's diameter (31-47
# hops over 20 seeds), so hash-min needs exactly CHAIN_TURNS rounds on
# every seed instead of a seed-dependent count.
CHAINS = 8
CHAIN_TURNS = 64


@dataclass(frozen=True)
class Workload:
    n_convs: int
    seed_offset: int  # generator seed = --seed + seed_offset
    durable_pagerank: bool  # per-iteration parquet checkpoints + lineage
    cc_algorithm: str  # "hashmin" (O(diameter) rounds) or "stars" (O(log n))


WORKLOADS = {
    # many cheap iterations: per-job scheduling and plans.iterate overhead
    "small-graph-iterative": Workload(1000, 0, False, "hashmin"),
    # 2x the arcs, durable PageRank, star-contraction CC, and the BVGraph
    # codec on the bigger graph: per-edge work and storage writes
    "large-graph-analytics": Workload(2000, 1_000_000, True, "stars"),
}

PHASES = ("ingest", "pagerank", "cc", "lpa", "hyperball", "triangles", "bv_store", "bv_load")
# The load is the shortest phase (0.3-0.9 s) and its first call also
# starts Python workers; the median of three reads is the steady figure.
REPEATS = {"bv_load": 3}
PYTHON_KERNELS = ("ingest", "bv_store", "bv_load")
CODECS = {  # format -> (module, pack, unpack)
    "csr": ("webgraph_spark.operators.csr", "pack_csr", "unpack_csr"),
    "bv": ("webgraph_spark.operators.bitstream", "pack_bv", "unpack_bv"),
    "ef": ("webgraph_spark.operators.ef", "pack_ef", "unpack_ef"),
}


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _arrays(df, *cols):
    pdf = df.toPandas()
    return tuple(pdf[c].to_numpy() for c in cols)


class Run:
    def __init__(self, args, work: Workload, run_dir: Path):
        self.args = args
        self.work = work
        self.dir = run_dir
        self.trace = bool(args.trace)
        self.procs = tracing.ProcessTree()
        self.spans: list[dict] = []
        self.times: dict[str, list[float]] = {p: [] for p in PHASES}
        self.layers: dict[str, list[float]] = {}
        self.bits_per_link: list[float] = []
        self.problems: list[str] = []  # outputs that failed a check
        self.errors: list[str] = []  # operations that raised
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.trace_collect_s = 0.0

    # ----------------------------------------------------------- set-up

    def setup(self):
        from pyspark.sql import functions as F
        from webgraph_spark.datagen.transcripts import TranscriptSpec, generate_transcripts
        from webgraph_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        seed = self.args.seed + self.work.seed_offset
        spec = TranscriptSpec(seed=seed, max_turns=MAX_TURNS, n_tools=N_TOOLS)
        chain = TranscriptSpec(
            seed=seed, min_turns=CHAIN_TURNS, max_turns=CHAIN_TURNS, tool_call_prob=0.0
        )

        convs = generate_transcripts(self.spark, n_convs=self.work.n_convs, spec=spec)
        chains = generate_transcripts(self.spark, n_convs=CHAINS, spec=chain)
        chains = chains.withColumn("conv_id", F.concat(F.lit("chain_"), "conv_id"))
        self.transcripts = str(self.dir / "transcripts")
        convs.unionByName(chains).write.parquet(self.transcripts)
        self.info["spec"] = {"conversations": asdict(spec), "chains": asdict(chain)}
        if self.trace:
            self.store = tracing.StatusStore(self.spark)

    # ----------------------------------------------------------- phases

    def _timed(self, phase: str, rnd: int, fn):
        """Run one operation; returns its result, or None if it raised."""
        self.attempted += 1
        group = f"{phase}-r{rnd}-{len(self.spans)}"  # one group per call
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, phase)
            cpu0 = self.procs.python_worker_cpu_s()
        t0 = time.time()
        try:
            out = fn()
        except Exception as e:  # a failing call is counted, not fatal
            self.failed += 1
            self.errors.append(f"{phase}: {type(e).__name__}: {e}"[:500])
            out = None
        t1 = time.time()
        self.spans.append({"phase": phase, "round": rnd, "start": t0, "end": t1, "group": group})
        if out is not None and phase in self.times:
            self.times[phase].append(t1 - t0)
        if self.trace:
            c0 = time.time()
            self.procs.sample_rss()
            self.spark.sparkContext._jsc.clearJobGroup()
            # codec probes report wall time and worker CPU only
            m = self.store.layer_metrics(group, t0, t1) if phase in PHASES else {}
            m["wall_s"] = t1 - t0
            if phase in PYTHON_KERNELS or phase not in PHASES:
                m["python_worker_cpu_s"] = self.procs.python_worker_cpu_s() - cpu0
            for k, v in m.items():
                self.layers.setdefault(f"{phase}.{k}", []).append(v)
            self.trace_collect_s += time.time() - c0
        return out

    def _layer(self, name: str, value: float):
        if self.trace:
            self.layers.setdefault(name, []).append(value)

    def _ingest(self, transcripts: str):
        from webgraph_spark.graph.edges import build_node_dictionary, extract_edges, simple_edges

        tr = self.spark.read.parquet(transcripts)
        edges = simple_edges(extract_edges(tr, build_node_dictionary(tr))).persist()
        edges.count()
        return edges

    def _calls(self, edges, tag: str) -> dict:
        """The timed calls after ingest, by phase."""
        from webgraph_spark.algos.components import connected_components
        from webgraph_spark.algos.hyperball import hyperball
        from webgraph_spark.algos.labelprop import label_propagation
        from webgraph_spark.algos.pagerank import pagerank
        from webgraph_spark.algos.triangles import triangle_count
        from webgraph_spark.sources.bvdisk import read_bvgraph, write_bvgraph_distributed

        w = self.work
        ckpt = str(self.dir / f"pagerank-{tag}") if w.durable_pagerank else None
        bv = str(self.dir / f"bv-{tag}" / "graph")
        os.makedirs(os.path.dirname(bv))
        return {
            "pagerank": lambda: pagerank(edges, tol=ref.PAGERANK_TOL, checkpoint_dir=ckpt),
            "cc": lambda: connected_components(
                edges, algorithm=w.cc_algorithm, max_iter=2 * CHAIN_TURNS
            ),
            "lpa": lambda: label_propagation(edges, max_iter=LPA_ROUNDS),
            "hyperball": lambda: hyperball(edges, log2m=HYPERBALL_LOG2M, max_t=HYPERBALL_ROUNDS),
            "triangles": lambda: triangle_count(edges),
            "bv_store": lambda: write_bvgraph_distributed(edges, bv),
            "bv_load": lambda: read_bvgraph(self.spark, bv).count(),
        }

    def round(self, rnd: int):
        """One timed pass over every phase, then the output checks."""
        from webgraph_spark.sources.bvdisk import read_bvgraph

        edges = self._timed("ingest", rnd, lambda: self._ingest(self.transcripts))
        if edges is None:  # nothing downstream can run
            rest = sum(REPEATS.get(p, 1) for p in PHASES[1:])
            self.failed += rest
            self.attempted += rest
            return None
        tag = f"r{rnd}"
        out = {}
        for p, call in self._calls(edges, tag).items():
            for _ in range(REPEATS.get(p, 1)):
                out[p] = self._timed(p, rnd, call)

        src, dst = _arrays(edges, "src", "dst")
        n, m = int(max(src.max(), dst.max())) + 1, len(src)
        self.info.update(nodes=n, edges=m)
        expected = ref.transcript_counts(self.transcripts + "/*.parquet")
        self.problems.extend(ref.check_ingest(src, dst, *expected))
        if (pr := out["pagerank"]) is not None:
            ckpt = self.dir / f"pagerank-{tag}"
            self._layer("pagerank.checkpoint_bytes", _dir_bytes(ckpt) if ckpt.exists() else 0)
            if not pr.converged:
                self.problems.append(f"pagerank: not converged after {pr.iterations} iterations")
            ranks = _arrays(pr.ranks, "node", "rank")
            self.problems.extend(ref.check_pagerank(*ranks, src, dst, n))
        if (cc := out["cc"]) is not None:
            if not cc.converged:
                self.problems.append(f"cc: no fixpoint after {cc.iterations} rounds")
            labels = _arrays(cc.labels, "node", "component")
            self.problems.extend(ref.check_components(*labels, src, dst, n))
        if (lpa := out["lpa"]) is not None:
            nodes, labels = _arrays(lpa.labels, "node", "label")
            self.problems.extend(
                ref.check_label_propagation(nodes, labels, lpa.iterations, src, dst, n, LPA_ROUNDS)
            )
        if (hb := out["hyperball"]) is not None:
            self.problems.extend(ref.check_hyperball(hb.nf, n, m))
            self.info["hyperball_nf"] = hb.nf
        if (tri := out["triangles"]) is not None:
            self.problems.extend(ref.check_triangles(tri, src, dst))
            self.info["triangles"] = tri
        bv = self.dir / f"bv-{tag}"
        if out["bv_store"] is not None:
            files = (bv / f"graph{x}" for x in (".graph", ".offsets", ".properties"))
            written = sum(f.stat().st_size for f in files)
            self._layer("bv_store.bytes_written", written)
            self.bits_per_link.append(os.path.getsize(bv / "graph.graph") * 8 / m)
            self.info["bv_properties"] = out["bv_store"]
        if out["bv_load"] is not None:
            loaded = _arrays(read_bvgraph(self.spark, str(bv / "graph")), "src", "dst")
            self.problems.extend(ref.check_same_arcs(src, dst, *loaded, "bv_load"))
        for p in ("pagerank", "cc", "lpa", "hyperball"):
            if out[p] is not None:
                self._layer(f"{p}.iterations", out[p].iterations)
                self.info.setdefault("iterations", {})[p] = out[p].iterations
        return edges, src, dst

    # ------------------------------------------------------- trace only

    def codec_probes(self, edges, src, dst):
        """Pack and unpack the edge table in each block format."""
        import importlib

        from pyspark.sql import functions as F
        from pyspark.sql.types import BinaryType

        absent = []
        for fmt, (mod, pack_name, unpack_name) in CODECS.items():
            module = importlib.import_module(mod)
            pack, unpack = getattr(module, pack_name, None), getattr(module, unpack_name, None)
            if pack is None or unpack is None:
                absent.append(fmt)
                continue

            def packed(pack=pack):
                blocks = pack(edges).persist()
                blocks.count()
                return blocks

            blocks = self._timed(f"{fmt}_pack", 0, packed)
            if blocks is None:
                continue
            binary = [f.name for f in blocks.schema.fields if isinstance(f.dataType, BinaryType)]
            stored = blocks.agg(sum(F.sum(F.length(c)) for c in binary)).collect()[0][0]
            self._layer(f"{fmt}.bits_per_link", stored * 8 / len(src))
            if self._timed(f"{fmt}_unpack", 0, lambda: unpack(blocks).count()) is not None:
                self.problems.extend(
                    ref.check_same_arcs(src, dst, *_arrays(unpack(blocks), "src", "dst"), fmt)
                )
            blocks.unpersist()
        self.info["codecs_absent"] = absent

    def fixture_check(self):
        """The Java-written cnr-2000 prefix decodes to its published lists."""
        from webgraph_spark.sources.bvdisk import read_bvgraph

        fix = self.dir / "fixture"
        fix.mkdir()
        for ext in (".graph", ".offsets", ".properties"):
            shutil.copy(BENCH_DIR / "fixtures" / f"cnr2000-head{ext}", fix)
        want = np.load(BENCH_DIR / "fixtures" / "cnr2000-head-expected.npz")
        got = _arrays(read_bvgraph(self.spark, str(fix / "cnr2000-head")), "src", "dst")
        want_arcs = ref.arcs_from_csr(want["indptr"], want["succ"])
        self.problems.extend(ref.check_same_arcs(*want_arcs, *got, "cnr2000-head"))

    # ---------------------------------------------------------- result

    def metrics(self, setup_s: float) -> dict:
        med = statistics.median
        if not self.trace:
            out = {"setup_s": (setup_s, "s")}
            out.update({f"{p}_s": (med(v), "s") for p, v in self.times.items() if v})
            if self.bits_per_link:
                out["bv_bits_per_link"] = (med(self.bits_per_link), "bit")
        else:
            out = {k: (med(v), _unit(k)) for k, v in self.layers.items()}
            out["trace.collect_s"] = (self.trace_collect_s, "s")
            out["run.peak_rss_mb"] = (self.procs.peak_rss_mb(), "MB")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


def _unit(name: str) -> str:
    key = name.rsplit(".", 1)[1]
    if key.endswith("_s"):
        return "s"
    if "bytes" in key:
        return "bytes"
    if key == "bits_per_link":
        return "bit"
    return "count"


def _stop_spark(spark) -> list[int]:
    """Stop Spark, end the JVM and wait for every child process to exit.
    Returns the pids that had to be killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    killed = []
    deadline = time.time() + 30
    while True:
        left = tracing.descendants(os.getpid())
        if not left:
            return killed
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.2)


def _environment(run_dir: Path):
    """Spark and its Python workers import the checkout's package, keep
    every file inside the checkout, and use the engine's defaults. The
    temp dir is shared by all runs, so caches kept there (the engine's
    compiled native gamma decoder) are built once, as on a user's host."""
    tmp = OUT_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    run_dir.mkdir(parents=True)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        opts = f"{os.environ.get(var, '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ[var] = opts.strip()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = tracing.process_start_epoch()

    sys.path.insert(0, str(ROOT))
    try:
        import webgraph_spark
    except ImportError as e:
        print(f"perfbench: cannot import webgraph_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(webgraph_spark.__file__).resolve().parent.parent != ROOT:
        where = webgraph_spark.__file__
        print(f"perfbench: webgraph_spark comes from {where}, not {ROOT}", file=sys.stderr)
        return 2

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    run_dir = OUT_DIR / name
    _environment(run_dir)
    run = Run(args, WORKLOADS[args.workload], run_dir)
    killed: list[int] = []
    try:
        run.setup()
        setup_s = time.time() - t_process
        weather = {"triad_gb_s_before": tracing.triad_gb_s()}
        jiffies0 = tracing.cpu_jiffies()
        measured, rnd, last = 0.0, 0, None
        while measured < args.seconds:
            rnd += 1
            if last is not None:
                last[0].unpersist()
            last = run.round(rnd)
            measured += sum(s["end"] - s["start"] for s in run.spans if s["round"] == rnd)
            if last is None:
                break
        if last is not None:
            run.fixture_check()
            if run.trace:
                run.codec_probes(*last)
            last[0].unpersist()
        weather["host_steal_share"] = tracing.steal_share(jiffies0, tracing.cpu_jiffies())
        weather["triad_gb_s_after"] = tracing.triad_gb_s()
        run.procs.sample_rss()
        result = {
            "correct": not run.problems,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": run.metrics(setup_s),
        }
    finally:
        if hasattr(run, "spark"):
            killed = _stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    artifact = {
        "args": vars(args),
        "workload": asdict(run.work),
        "rounds": rnd,
        "result": result,
        "problems": run.problems,
        "errors": run.errors,
        "info": run.info,
        "phase_times_s": run.times,
        "layers": run.layers,
        "weather": weather,
        "spans": run.spans,
        "killed_pids": killed,
    }
    OUT_DIR.mkdir(exist_ok=True)
    (OUT_DIR / f"{name}.json").write_text(json.dumps(artifact, indent=1, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
