"""Spans, counters and the readings taken from outside the engine:
Spark's status tracker and status store, the Catalyst phase tracker of
a DataFrame, and the peak resident memory of this process tree.

Nothing here changes the engine. With tracing off, ``Tracer.span`` is a
no-op and no Spark metric is read, so untraced runs time the engine
alone.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, op id) and per-op counters, kept
    in memory and written out when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op_id = 0
        self.ops: list[dict] = []  # id, name and latency of every operation run
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[self.op_id][name] += value

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Per span name, the summed self time (duration minus the time
        covered by child spans) over the given ops."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] in op_ids:
                out[s["name"]] += s["end"] - s["start"] - child_time[i]
        return out

    def totals(self, op_ids: set[int]) -> dict[str, float]:
        """Per span name, the summed duration; plus every counter."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in op_ids:
                out[s["name"]] += s["end"] - s["start"]
        for op in op_ids:
            for k, v in self.counts.get(op, {}).items():
                out[k] += v
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Plan the DataFrame and return its Catalyst phase times in seconds.
    Phases already run (eager analysis) keep their recorded time."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def spark_job_metrics(spark, group: str) -> dict[str, float]:
    """Execution counts of every job run under one job group, from the
    status tracker (job ids) and the status store (job times, stage
    metrics). Stages skipped because their shuffle output was reused
    have no attempt and count for nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = defaultdict(float)
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["spark.jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # py4j wraps the JVM's NoSuchElementException
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    # wall time covered by the jobs (union of their intervals)
    busy, cur = 0, None
    for start, end in sorted(intervals):
        if cur is None or start > cur[1]:
            busy += cur[1] - cur[0] if cur else 0
            cur = [start, end]
        else:
            cur[1] = max(cur[1], end)
    busy += cur[1] - cur[0] if cur else 0
    out["spark.exec_s"] = busy / 1e3
    return out


def cached_blocks(spark) -> int:
    """Storage blocks (cached RDD partitions) held by the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos)


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers, emulator): the sum of each live process's
    kernel-tracked peak (VmHWM)."""
    return sum(_hwm_kb(p) for p in tree_pids(os.getpid())) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Host-wide CPU ticks from /proc/stat: (stolen by the hypervisor, all)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick
    resolution), so set-up time includes interpreter start-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
