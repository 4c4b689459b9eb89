"""Measurement helpers: percentiles, the job census read from Spark's
status store, the host CPU canary and the process-tree RSS sampler.

Nothing here changes what the program does; every number is read from
outside, at public seams (``SparkContext.statusTracker``, the status
store, ``/proc``).
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field


# -- statistics -------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals: concurrent jobs count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end < start:
            raise ValueError(f"interval ends before it starts: {(start, end)}")
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def attribute_jobs(caller_jobs: list[int], stream_jobs: dict[str, list[int]]) -> dict:
    """Attribute one timed call's jobs across its two kinds of job
    group. Spark runs a streaming query's micro-batch jobs under a group
    named after the query's ``runId``, not under the caller's group, so
    a drain's jobs are only complete as the union of both. A job id
    listed twice counts once."""
    from_streams = set().union(*stream_jobs.values()) if stream_jobs else set()
    all_jobs = set(caller_jobs) | from_streams
    return {
        "jobs": sorted(all_jobs),
        "caller": len(set(caller_jobs)),
        "stream": len(from_streams - set(caller_jobs)),
    }


# -- Spark status store -----------------------------------------------------

STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ns",
    "gc_ms",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
)


@dataclass
class Census:
    """Scheduler counts for one set of jobs."""

    jobs: int = 0
    jobs_caller: int = 0
    jobs_stream: int = 0
    stages: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    totals: dict[str, float] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))

    def add(self, other: "Census") -> None:
        self.jobs += other.jobs
        self.jobs_caller += other.jobs_caller
        self.jobs_stream += other.jobs_stream
        self.stages += other.stages
        self.intervals.extend(other.intervals)
        for k, v in other.totals.items():
            self.totals[k] += v


class StatusStore:
    """Reads jobs and stages back from the driver's status store. Works
    with ``spark.ui.enabled=false``: the store is kept regardless."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def census(self, caller_group: str | None, run_ids: list[str]) -> Census:
        """Jobs of ``caller_group`` (None: no caller group) and of the
        streaming runs ``run_ids``, with their stages' metrics."""
        attributed = attribute_jobs(
            self.job_ids(caller_group) if caller_group else [],
            {r: self.job_ids(r) for r in run_ids},
        )
        out = Census(
            jobs=len(attributed["jobs"]),
            jobs_caller=attributed["caller"],
            jobs_stream=attributed["stream"],
        )
        stage_ids: set[int] = set()
        for jid in attributed["jobs"]:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            t = out.totals
            t["tasks"] += st.numCompleteTasks()
            t["executor_run_ms"] += st.executorRunTime()
            t["executor_cpu_ns"] += st.executorCpuTime()
            t["gc_ms"] += st.jvmGcTime()
            t["input_bytes"] += st.inputBytes()
            t["input_records"] += st.inputRecords()
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out


# -- host -------------------------------------------------------------------

def cpu_row() -> list[int]:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    return []


def host_canary(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy share of the host's CPU time between two
    ``/proc/stat`` samples: a high steal share means neighbours took
    the CPU and the run's timings are suspect."""
    d = [y - x for x, y in zip(before, after)]
    tot = sum(d) or 1
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    pct = {n: 100.0 * v / tot for n, v in zip(names, d)}
    return {
        "steal_pct": round(pct.get("steal", 0.0), 2),
        "busy_pct": round(100.0 - pct.get("idle", 0.0) - pct.get("iowait", 0.0), 2),
    }


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread
        pass
    return 0


def _proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` of every process, split after the command
    name: index 1 is the parent pid, 11..14 utime, stime, cutime and
    cstime in clock ticks."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        stats[int(name)] = stat[stat.rindex(")") + 2 :].split()
    return stats


def tree_pids(root: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants. Summed as
    PSS, not RSS: a child forked by the JVM (to run ``chmod``) or by
    PySpark's worker daemon shares its parent's pages, and RSS would
    count those pages once per process."""
    return sum(_pss_bytes(pid) for pid in tree_pids(root, _proc_stats()))


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 characters


def _ticks(fields: list[str], first: int, last: int) -> int:
    return sum(int(x) for x in fields[first : last + 1])


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """``(cpu, jit)``: CPU seconds (user + system) used so far by
    ``root`` (default: this process) and all its descendants, reaped
    children included, and the part of it the JVM's JIT compiler
    threads used. The JVM must keep its compiler threads for its whole
    life (``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU of a
    thread that has exited stays in its process's total but can no
    longer be told apart."""
    stats = _proc_stats()
    root = os.getpid() if root is None else root
    cpu = jit = 0
    for pid in tree_pids(root, stats):
        if pid not in stats:
            continue
        cpu += _ticks(stats[pid], 11, 14)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # exited
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1 : stat.rindex(")")] in _JIT_THREADS:
                jit += _ticks(stat[stat.rindex(")") + 2 :].split(), 11, 12)
    return _TICK_S * cpu, _TICK_S * jit


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the JVM and Python workers) on a background thread.
    ``take_peak_mb`` returns the highest sum seen since the previous
    call."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.own_cpu_s = 0.0  # the sampler thread's CPU, to leave out of the tree's
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            rss = tree_pss_bytes(root)
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)
                self.own_cpu_s = time.thread_time()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def work_cpu_s(self) -> tuple[float, float]:
        """``(work, jit)`` CPU seconds of this process tree so far:
        ``tree_cpu_s()`` with the JIT compiler's share and this
        sampler's own CPU taken out of ``work``."""
        with self._lock:
            own = self.own_cpu_s
        cpu, jit = tree_cpu_s()
        return cpu - jit - own, jit

    def take_peak_mb(self) -> float:
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak / 2**20
