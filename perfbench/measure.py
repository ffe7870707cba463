"""Process-tree counters from /proc and Spark job metrics by job group.

Process-tree figures cover this process and every live descendant:
the local-mode JVM and the Python workers it forks. CPU is
utime + stime + cutime + cstime, so workers that have exited are still
counted through their parent. I/O is ``rchar``/``wchar``: every byte
passed through read/write calls, whether it hit the disk or the page
cache, so input scans, shuffle files, spill, temporary parts and final
outputs all count.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
MIB = 1024.0 * 1024.0


@dataclass
class TreeSample:
    jvm_cpu_s: float = 0.0
    python_cpu_s: float = 0.0
    rchar: int = 0
    wchar: int = 0
    hwm_kib: int = 0
    hwm_by_comm: dict = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.python_cpu_s


def _procs() -> dict[int, tuple[int, str, int]]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may hold spaces or parentheses: split after the last ')'
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(d)] = (int(rest[1]), comm, ticks)
    return out


def sample_tree() -> TreeSample:
    """One reading of the counters summed over the process tree."""
    procs = _procs()
    s = TreeSample()
    seen, frontier = set(), {os.getpid()}
    while frontier:
        for pid in frontier:
            if pid not in procs:
                continue
            seen.add(pid)
            _, comm, ticks = procs[pid]
            if comm == "java":
                s.jvm_cpu_s += ticks / _TICK
            else:
                s.python_cpu_s += ticks / _TICK
            try:
                with open(f"/proc/{pid}/io") as fh:
                    for line in fh:
                        if line.startswith("rchar:"):
                            s.rchar += int(line.split()[1])
                        elif line.startswith("wchar:"):
                            s.wchar += int(line.split()[1])
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kib = int(line.split()[1])
                            s.hwm_kib += kib
                            s.hwm_by_comm[comm] = s.hwm_by_comm.get(comm, 0) + kib
            except OSError:
                pass
        frontier = {p for p, (pp, _, _) in procs.items() if pp in frontier and p not in seen}
    return s


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


@dataclass
class JobMetrics:
    """Spark task metrics of the stages that ran under one job group."""

    jobs: int = 0
    job_wall_s: float = 0.0  # union of the jobs' [submitted, completed] spans
    task_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class SparkJobs:
    """Reads stage metrics from Spark's in-process status store.

    The status store is filled asynchronously by the listener bus, so
    :meth:`collect` drains the bus first. A stage is credited to the
    first group collected that lists it: a later job that reuses its
    shuffle output lists it again as skipped.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.claimed: set[int] = set()

    def collect(self, group: str) -> JobMetrics:
        self.jsc.listenerBus().waitUntilEmpty()
        m = JobMetrics()
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            m.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self.claimed:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage pruned from the store or never run
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self.claimed.add(sid)
                m.task_cpu_s += st.executorCpuTime() / 1e9
                m.input_bytes += st.inputBytes()
                m.shuffle_write_bytes += st.shuffleWriteBytes()
                m.spill_bytes += st.diskBytesSpilled()
        end = None
        for a, b in sorted(spans):
            if end is None or a > end:
                m.job_wall_s += (b - a) / 1e3
                end = b
            elif b > end:
                m.job_wall_s += (b - end) / 1e3
                end = b
        return m

