"""Measurement probes the benchmark owns: Spark job attribution per span,
host noise from ``/proc/stat``, CPU of the benchmark's process tree and
on-disk footprint of an index directory.

Nothing here is imported by the engine; spans wrap the engine's public
calls from the outside.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    executor_cpu_s: float = 0.0
    # [submission, completion] of every job, epoch seconds
    intervals: list = field(default_factory=list)

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.executor_cpu_s += other.executor_cpu_s
        self.intervals += other.intervals


@dataclass
class Span:
    name: str
    group: str
    t0: float  # epoch seconds
    wall: float = 0.0
    # jobs of this span and of every span nested in it
    spark: JobStats = field(default_factory=JobStats)


class SparkSpans:
    """Spans that own the Spark jobs started while they are open.

    Each span sets its own job group on enter and restores its parent's
    on exit, so with one client thread every job is started in exactly the
    innermost open span. On exit the span's jobs are read from the status
    store (works with ``spark.ui.enabled=false``) and added to its parent,
    so a span's totals include its nested spans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        sp = Span(name, f"perfbench-{os.getpid()}-{self._seq}", time.time())
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        p0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - p0
            self._stack.pop()
            sp.spark.add(self._collect(sp.group))
            if self._stack:
                parent = self._stack[-1]
                parent.spark.add(sp.spark)
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _collect(self, group: str) -> JobStats:
        self._jsc.listenerBus().waitUntilEmpty()
        out = JobStats()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out.jobs += 1
            out.stages += job.numCompletedStages() + job.numFailedStages()
            out.tasks += job.numCompletedTasks() + job.numFailedTasks()
            sids = job.stageIds()
            for i in range(sids.length()):
                st = self._store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out.shuffle_bytes += st.shuffleWriteBytes()
                out.executor_cpu_s += st.executorCpuTime() / 1e9
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                stop = end.get().getTime() / 1e3 if end.isDefined() else time.time()
                out.intervals.append((sub.get().getTime() / 1e3, stop))
        return out


def busy_outside_jobs(t0: float, wall: float, intervals: list) -> float:
    """Seconds of [t0, t0 + wall] during which no Spark job was running:
    driver planning, py4j round trips and driver-side numpy."""
    t1 = t0 + wall
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(wall - covered, 0.0)


def _proc_stat_cpu() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the whole host since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds of a process and all its live descendants (driver,
    JVM, Python workers), plus the reaped children of the root."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    reaped = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        pid, ppid = int(name), int(rest[1])
        children.setdefault(ppid, []).append(pid)
        cpu[pid] = int(rest[11]) + int(rest[12])
        if pid == root_pid:
            reaped = int(rest[13]) + int(rest[14])
    total, todo = reaped, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / _CLK


class HostSampler:
    """Host noise over an interval: share of host CPU time stolen by the
    hypervisor, and share used by processes outside the benchmark's tree.
    (The 1-minute load average would count the benchmark's own threads.)"""

    def __init__(self) -> None:
        self._host0 = _proc_stat_cpu()
        self._own0 = tree_cpu_s()

    def read(self) -> dict:
        busy1, steal1, total1 = _proc_stat_cpu()
        busy0, steal0, total0 = self._host0
        own = tree_cpu_s() - self._own0
        dt = max(total1 - total0, 1) / _CLK
        other = max((busy1 - busy0) / _CLK - own, 0.0)
        return {
            "steal_frac": (steal1 - steal0) / _CLK / dt,
            "other_cpu_frac": other / dt,
            "own_cpu_s": own,
        }


def dir_footprint(path: str) -> dict[str, tuple[int, float]]:
    """{relative file path: (bytes, mtime)} of every regular file under
    ``path``."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(base, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten in ``after``."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in changed), len(changed)
