"""Spans, engine metrics and memory sampling for the benchmark.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package's public functions, engine
metrics come from Spark's status tracker and the application's local
status REST endpoint, and memory comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str
    attrs: dict


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced run pays only a flag check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str = "", **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if not op_id and parent is not None:
            op_id = self.spans[parent].op_id
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Self time of every span (its duration minus the part of its
        interval that child spans cover), grouped by span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.setdefault(s.name, []).append(s.end - s.start - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- Spark engine metrics ------------------------------------------------------

_STAGE_FIELDS = {
    "spark.tasks": "numTasks",
    "spark.executor_run_s": "executorRunTime",
    "spark.gc_s": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.input_bytes": "inputBytes",
}
ENGINE_METRICS = ["spark.jobs", *_STAGE_FIELDS, "spark.spill_bytes"]


class EngineMetrics:
    """Per-operation job/stage metrics. The benchmark tags each call
    with a job group; jobs are found through ``statusTracker`` and their
    stage metrics read from the local status REST endpoint."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[str, list[str]] = {}

    @contextmanager
    def group(self, op_id: str):
        self.sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add_group(self, op_id: str, extra_group: str) -> None:
        """Attribute jobs run under another group (a streaming query's
        run id) to ``op_id``."""
        self.groups.setdefault(op_id, []).append(extra_group)

    def _jobs(self, op_id: str) -> tuple[int, list[int]]:
        """Job count and stage ids of one operation's job groups."""
        tracker = self.sc.statusTracker()
        jobs = [j for g in [op_id, *self.groups.get(op_id, [])] for j in tracker.getJobIdsForGroup(g)]
        stages = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.extend(info.stageIds)
        return len(jobs), stages

    def _fetch_stages(self) -> dict[int, dict]:
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as r:
            stages = json.load(r)
        out: dict[int, dict] = {}
        for s in stages:
            if s.get("status") in ("COMPLETE", "SKIPPED"):
                out.setdefault(s["stageId"], s)
        return out

    def per_op(self, op_ids: list[str], n_ops: int, timeout_s: float = 20.0) -> dict[str, float]:
        """Every engine metric summed over ``op_ids`` and divided by
        ``n_ops``. Waits for the listener bus to publish every stage
        the operations ran."""
        wanted = {op: self._jobs(op) for op in op_ids}
        needed = {s for _, ids in wanted.values() for s in ids}
        deadline = time.monotonic() + timeout_s
        stages = self._fetch_stages()
        while not needed <= stages.keys() and time.monotonic() < deadline:
            time.sleep(0.5)
            stages = self._fetch_stages()
        totals = dict.fromkeys(ENGINE_METRICS, 0.0)
        for n_jobs, ids in wanted.values():
            totals["spark.jobs"] += n_jobs
            for sid in set(ids):
                s = stages.get(sid)
                if s is None or s.get("status") == "SKIPPED":
                    continue
                for name, field in _STAGE_FIELDS.items():
                    totals[name] += s.get(field, 0)
                totals["spark.spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                    "diskBytesSpilled", 0
                )
        totals["spark.executor_run_s"] /= 1000.0
        totals["spark.gc_s"] /= 1000.0
        return {k: v / max(n_ops, 1) for k, v in totals.items()}


# --- memory ------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the Spark JVM plus every process it
    spawned (the Python workers): the sum of each live process's
    ``VmHWM``, maximised over samples."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0

    def sample(self) -> None:
        kids = _children_map()
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            total += _hwm_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
