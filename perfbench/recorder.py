"""Outside-in recorder: spans around calls into the program's layers.

Each span gets its own Spark job group, so the jobs a call ran are read
back from the status store by group right after the call returns
(``getJobIdsForGroup``), never by diffing job-list lengths: the store
keeps only ``spark.ui.retainedJobs`` jobs and the list shrinks once a
session passes that. Spans live in memory and are written out once at
the end of the run.

A disabled recorder sets no job group and reads nothing, so untraced
runs measure the program alone.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class StageStats:
    stage_id: int
    start: float | None
    end: float | None
    num_tasks: int
    executor_run_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    task_median_s: float | None = None
    task_max_s: float | None = None


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    iteration: str | None
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: list[StageStats] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "id": self.span_id,
            "parent": self.parent_id,
            "iteration": self.iteration,
            "start": self.start,
            "end": self.end,
            "jobs": self.jobs,
            "stages": len(self.stages),
            "attrs": self.attrs,
        }


def _opt(o):
    """Scala Option -> Python value or None."""
    return o.get() if o.isDefined() else None


def _ms(date) -> float | None:
    return None if date is None else date.getTime() / 1000.0


class Recorder:
    """Records spans; with ``enabled=False`` every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._next = 0
        # job group prefix, unique per recorder so groups never collide
        self._prefix = f"perfbench-{os.getpid()}-{id(self):x}"
        self.sc = spark.sparkContext
        if enabled:
            self._store = self.sc._jsc.sc().statusStore()
            self._tracker = self.sc.statusTracker()
            gw = self.sc._gateway
            self._q = gw.new_array(gw.jvm.double, 2)
            self._q[0] = 0.5
            self._q[1] = 1.0

    @contextmanager
    def span(self, name: str, iteration: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if iteration is None and parent is not None:
            iteration = parent.iteration
        sid = self._next
        self._next += 1
        s = Span(
            name=name,
            span_id=sid,
            parent_id=parent.span_id if parent else None,
            iteration=iteration,
            group=f"{self._prefix}-{sid}",
            start=time.time(),
        )
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._restore_group()
            t0 = time.perf_counter()
            self._read_group(s)
            self.bookkeeping_s += time.perf_counter() - t0
            self.spans.append(s)

    @contextmanager
    def probe(self):
        """A materialization the benchmark adds to close a layer at its
        boundary (persist + count of the layer's output). Its jobs stay in
        the current span, because they run that layer's work, and are
        counted in the span's ``probe_actions``; its wall is also charged
        to ``bookkeeping_s``, so the reported tracing overhead is an upper
        bound."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0
            if self._stack:
                attrs = self._stack[-1].attrs
                attrs["probe_actions"] = attrs.get("probe_actions", 0) + 1

    def adopt_group(self, s: Span, group: str) -> None:
        """Also charge the jobs of ``group``, a job group Spark set on its
        own thread (a streaming query runs its batches under its run id),
        to span ``s``."""
        t0 = time.perf_counter()
        self._read_group(s, group)
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def bookkeeping(self):
        """The recorder's own extra work: timed as tracing overhead, and
        run in a job group of its own so no layer is charged for it."""
        t0 = time.perf_counter()
        self.sc.setJobGroup(f"{self._prefix}-bookkeeping", "perfbench bookkeeping")
        try:
            yield
        finally:
            self._restore_group()
            self.bookkeeping_s += time.perf_counter() - t0

    def _restore_group(self) -> None:
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ reading

    def _read_group(self, s: Span, group: str | None = None) -> None:
        job_ids = sorted(self._tracker.getJobIdsForGroup(group or s.group))
        s.jobs += len(job_ids)
        seen = {st.stage_id for st in s.stages}
        for jid in job_ids:
            job = self._store.job(jid)
            ids = job.stageIds()
            for i in range(ids.size()):
                st = ids.apply(i)
                if st in seen:
                    continue
                seen.add(st)
                stats = self._stage(st)
                if stats is not None:
                    s.stages.append(stats)

    def _stage(self, stage_id: int) -> StageStats | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - evicted or never-submitted stage
            return None
        if str(sd.status()) == "SKIPPED":
            return None
        out = StageStats(
            stage_id=stage_id,
            start=_ms(_opt(sd.submissionTime())),
            end=_ms(_opt(sd.completionTime())),
            num_tasks=sd.numTasks(),
            executor_run_s=sd.executorRunTime() / 1000.0,
            input_bytes=sd.inputBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        )
        if out.num_tasks >= 2:
            dist = _opt(self._store.taskSummary(stage_id, sd.attemptId(), self._q))
            if dist is not None:
                d = dist.duration()
                out.task_median_s = d.apply(0) / 1000.0
                out.task_max_s = d.apply(1) / 1000.0
        return out

    # ---------------------------------------------------------- summaries

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent_id, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.span_id, []))
        return out

    def children(self, root: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == root.span_id]

    def inclusive(self, root: Span) -> dict:
        """Counts over a span and every span below it."""
        spans = self.subtree(root)
        stages = [st for s in spans for st in s.stages]
        return {
            "s": root.wall_s,
            "jobs": sum(s.jobs for s in spans),
            "stages": len(stages),
            "driver_gap_s": driver_gap(root.start, root.end, stages),
            "executor_run_s": sum(st.executor_run_s for st in stages),
            "input_bytes": sum(st.input_bytes for st in stages),
            "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
            "spill_bytes": sum(st.spill_bytes for st in stages),
            "stage_list": stages,
        }

    def self_time(self, root: Span) -> float:
        """Span wall minus the part its child spans cover."""
        covered = _union([(c.start, c.end) for c in self.children(root)], root.start, root.end)
        return root.wall_s - covered

    def probe_actions(self, root: Span) -> int:
        """Probe materializations run in a span and every span below it."""
        return sum(s.attrs.get("probe_actions", 0) for s in self.subtree(root))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if a is not None and b is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float, stages: list[StageStats]) -> float:
    """Part of [start, end] during which none of ``stages`` was running."""
    return (end - start) - _union([(st.start, st.end) for st in stages], start, end)


def task_skew(stages: list[StageStats]) -> float:
    """Duration-weighted skew: sum of per-stage max task time over sum of
    per-stage median task time, over stages with at least two tasks."""
    mx = sum(st.task_max_s for st in stages if st.task_max_s is not None)
    md = sum(st.task_median_s for st in stages if st.task_median_s is not None)
    return mx / md if md > 0 else 1.0


# ------------------------------------------------------------- /proc


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces; the fields after it are space-separated
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return comm, ppid, ticks


def python_children_cpu_s(root_pid: int) -> float:
    """CPU seconds of the Python processes below ``root_pid`` (Spark's
    Python worker daemon and its workers, including reaped workers,
    which the daemon's cutime/cstime carry)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _stat(d)
            except (OSError, ValueError):
                continue
    below = {root_pid}
    changed = True
    while changed:
        changed = False
        for pid, (_, ppid, _) in procs.items():
            if ppid in below and pid not in below:
                below.add(pid)
                changed = True
    hz = os.sysconf("SC_CLK_TCK")
    # a live worker's time is in its own entry; a reaped worker's time has
    # moved into its parent's cutime/cstime, so nothing counts twice
    total = 0
    for pid in below - {root_pid}:
        comm, ppid, ticks = procs[pid]
        if comm.startswith("python"):
            total += ticks
    return total / hz
