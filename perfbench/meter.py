"""Measurement taken from outside the program under test.

* ``ProcTree``: CPU time and peak RSS of this process and the Spark driver
  JVM it launched, read from ``/proc``.
* ``SparkCounters``: per-job-group totals from Spark's status store, the
  store ``plans.inspect.stage_metrics`` reads, but scoped to the stages of
  one group's jobs and read once per group.
* ``Tracer``: in-memory spans, each tagged with the Spark job group set
  around the call it wraps, written out when the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1e6


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass  # the process ended while we looked
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


def _cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / _CLK_TCK


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024 / MB
    except OSError:
        pass
    return 0.0


class ProcTree:
    """CPU and memory of this Python process and the driver JVM."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the Python
        workers the JVM started."""
        return sum(_cpu_s(p) for p in {os.getpid(), *process_tree(self.jvm_pid)})

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process."""
        return _vm_hwm_mb(self.jvm_pid) + _vm_hwm_mb(os.getpid())


SPARK_FIELDS = (
    "jobs", "stages", "skipped_stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "input_mb", "output_mb", "spill_mb", "gc_s",
)


class SparkCounters:
    """Totals of the stages run by one job group's jobs.

    A stage reused by a later group shows there as skipped; it is counted
    once, under the first group read that ran it.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def read(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen:
                    continue
                self._seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage of a failed job that never started
                    continue
                if s.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                out["input_mb"] += s.inputBytes() / MB
                out["output_mb"] += s.outputBytes() / MB
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
                out["gc_s"] += s.jvmGcTime() / 1e3
        return out


def set_job_group(sc, group: str | None) -> None:
    """Tag the Spark jobs this thread starts with ``group`` (None: untag)."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


class Tracer:
    """Spans kept in memory.  Each span sets its own Spark job group for the
    duration of the call it wraps, so its Spark work can be read back per
    span.  When disabled, ``span`` only times the block and sets the group
    given to it explicitly (one status-store read per pass)."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent setting job groups

    def _set_group(self, group: str | None) -> None:
        t = time.perf_counter()
        set_job_group(self._sc, group)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time a block.  ``group`` forces a job group even when tracing is
        off; with tracing on every span gets ``<parent group>/<name>``."""
        parent = self._stack[-1] if self._stack else None
        if self.enabled:
            group = group or (f"{parent['group']}/{name}" if parent else f"{self.run_id}/{name}")
        span = {
            "id": len(self.spans) + 1, "parent": parent["id"] if parent else None,
            "run": self.run_id, "name": name, "group": group, **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        if group is not None:
            self._set_group(group)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._set_group(parent["group"] if parent else None)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def sum_counts(counts) -> dict[str, float]:
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    for c in counts:
        for k in SPARK_FIELDS:
            out[k] += c[k]
    return out


def subtree(spans: list[dict], root: dict):
    """Spark counters of ``root`` and its descendants among ``spans``
    (parents come before children)."""
    inside = {root["id"]}
    for s in spans:
        if s["id"] == root["id"] or s["parent"] in inside:
            inside.add(s["id"])
            yield s["spark"]


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited (a zombie counts as exited); kill
    what is left after ``timeout``."""
    import signal

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def duration(span: dict) -> float:
    return span["end"] - span["start"]
