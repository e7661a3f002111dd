"""Benchmark-side tracing: spans around the calls the benchmark makes, and
Spark counters attributed to spans by job-id range.

Jobs are attributed by the id range that ran between a span's start and
end, read from Spark's status store, not by ``setJobGroup``: job ids are
allocated in submission order, so a range catches jobs started on any
thread. The store keeps only ``spark.ui.retainedStages`` stages, so the
counters of each closed span are read as soon as it ends. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import time

MB = 1024 * 1024
_KEYS = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
         "shuffle_write_mb", "spill_mb")


class SparkCounters:
    """Reads job and stage counters from the driver's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def max_job_id(self) -> int:
        """Id of the last job submitted. Waits for the listener bus, so
        the status store has caught up with every job up to it."""
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.dagScheduler().nextJobId() - 1

    def jobs(self, lo: int, hi: int) -> dict:
        """Totals over jobs with lo < id <= hi. A stage shared by several
        jobs is counted once, in the job that ran it; skipped stages
        (shuffle output reused) count nothing."""
        out = dict.fromkeys(_KEYS, 0)
        for job in range(lo + 1, hi + 1):
            info = self._tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def cached_blocks(self) -> int:
        return sum(i.numCachedPartitions() for i in self._jsc.getRDDStorageInfo())


class Tracer:
    """Records spans (name, start, end, parent, run id) and, per span, the
    Spark counters of the jobs that ran inside it."""

    def __init__(self, run_id: str, counters: SparkCounters):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._counters = counters

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "job_lo": self._counters.max_job_id()}
        index = len(self.spans)
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            rec["job_hi"] = self._counters.max_job_id()
            if not self._stack:  # read counters as each top-level span closes
                self._attribute(index)

    def _attribute(self, top: int) -> None:
        """Add each job of a closed top-level span to every span whose
        job-id range holds it, so a span's counters include those of the
        spans nested in it."""
        tree = self.spans[top:]
        for rec in tree:
            rec["counters"] = dict.fromkeys(_KEYS, 0)
        for job in range(tree[0]["job_lo"] + 1, tree[0]["job_hi"] + 1):
            counts = self._counters.jobs(job - 1, job)
            for rec in tree:
                if rec["job_lo"] < job <= rec["job_hi"]:
                    for k in _KEYS:
                        rec["counters"][k] += counts[k]


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time each process has used since it started."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of all CPUs from /proc/stat. Busy is time the
    CPUs ran code (user, nice, system, irq, softirq); steal is time the
    hypervisor ran another guest while this machine's CPUs had work."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(t) for t in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the time the CPUs had work between two ``cpu_ticks``
    readings that the hypervisor gave to another guest. A thread that
    wanted a CPU stood still for that share of the interval, so
    ``wall * (1 - share)`` is the interval's wall time without the steal."""
    busy, steal = (b - a for a, b in zip(before, after))
    return steal / (busy + steal) if busy + steal else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak RSS (VmHWM) of each process since it started."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def tree_bytes(path: str) -> int:
    """Bytes of regular files under ``path``, following the published
    symlinks once (each version directory is counted once)."""
    seen: set[str] = set()
    total = 0
    for root, dirs, files in os.walk(path, followlinks=True):
        real = os.path.realpath(root)
        if real in seen:
            dirs[:] = []
            continue
        seen.add(real)
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if os.path.isfile(os.path.join(root, f)))
    return total
