"""What the benchmark reads besides its own clock: Spark's in-process
status store (per-layer counts and times of a phase's jobs), the run's
process tree under /proc (Python worker CPU, peak resident memory), and
host weather (CPU steal, a memory-bandwidth triad)."""

from __future__ import annotations

import os
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process tree


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at state (index 0 here)
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for every live descendant of ``root``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started = int(_stat(os.getpid())[20]) / _TICK
    return time.time() - (uptime - started)


class ProcessTree:
    """CPU of the Python worker processes and peak RSS of the whole run
    (this driver, the JVM and the workers), sampled at phase bounds."""

    def __init__(self):
        self.root = os.getpid()
        self._hwm_kb: dict[int, int] = {}

    def python_worker_cpu_s(self) -> float:
        """utime+stime of live Python descendants plus what they reaped."""
        total = 0
        for st in descendants(self.root).values():
            if st[0].startswith("python"):
                total += sum(int(x) for x in st[12:16])
        return total / _TICK

    def sample_rss(self) -> None:
        for pid in [self.root, *descendants(self.root)]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self._hwm_kb[pid] = max(kb, self._hwm_kb.get(pid, 0))
                            break
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum over the run's processes of each one's peak resident set."""
        return sum(self._hwm_kb.values()) / 1024.0


# ------------------------------------------------------------ host weather


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def triad_gb_s(n: int = 4_000_000, reps: int = 5) -> float:
    """Best of ``reps`` STREAM-style triads a = b + s*c over float64."""
    b = np.ones(n)
    c = np.full(n, 2.0)
    a = np.empty(n)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)
        best = min(best, time.perf_counter() - t0)
    return 3 * 8 * n / best / 1e9


# ------------------------------------------------------------ status store

LAYER_KEYS = (
    "jobs",
    "tasks",
    "driver_gap_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _scala_ints(seq) -> list[int]:
    return [int(seq.apply(i)) for i in range(seq.size())]


class StatusStore:
    """Reads a job group's jobs and stages from Spark's AppStatusStore.

    The store keeps only the last 1000 jobs and stages, so each phase is
    read as soon as it ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def layer_metrics(self, group: str, start: float, end: float) -> dict[str, float]:
        # the store is fed by the listener bus; drain it before reading
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        intervals, stages = [], set()
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t1 = done.get().getTime() / 1000.0 if done.isDefined() else end
                intervals.append((sub.get().getTime() / 1000.0, t1))
            stages.update(_scala_ints(job.stageIds()))
        out = dict.fromkeys(LAYER_KEYS, 0.0)
        out["jobs"] = len(job_ids)
        out["driver_gap_s"] = (end - start) - _covered(intervals, start, end)
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    covered, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            covered += b - a
            reach = b
    return covered
