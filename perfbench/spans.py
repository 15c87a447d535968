"""Spans around the program's public calls, Spark job counts per span,
and per-span stage/task metrics read back from the Spark event log.

Nothing here changes the program. A ``Tracer`` wraps module attributes
(``pipelines.daily_incremental_run``, ``lake.merge_and_overwrite``, ...)
for the duration of a traced run, and the benchmark opens spans around
the calls it makes itself. Each span sets its own Spark job group, so
every job lands in the innermost open span: a span's job count is its
self count, and its event-log metrics are self metrics too.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every call a
    no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def patch(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``module.attr`` with a wrapper that opens span ``name``.
        ``before(args, kwargs)`` and ``after(token, span)`` run outside
        the span's timed region, for bookkeeping such as listing files."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            token = before(args, kwargs) if before else None
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
            if after:
                after(token, sp)
            return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def inherited(self, span: Span, attr: str):
        """``attr`` of ``span`` or of its nearest ancestor that has it:
        how a wrapped call reads a fact the benchmark put on the span
        around it, such as the rows the current tick brings."""
        while span is not None:
            if attr in span.attrs:
                return span.attrs[attr]
            span = self.spans[span.parent] if span.parent is not None else None
        return None

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids


def self_time(span: Span, kids: list[Span]) -> float:
    """Duration minus the part of it covered by child spans (children
    of one driver thread never overlap)."""
    return (span.end - span.start) - sum(k.end - k.start for k in kids)


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "dur_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def read_event_logs(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, stages, and the tasks they ran, from every
    application log in ``log_dir``. Stages are keyed by log and stage
    id; a stage shared by several jobs counts for the first job that
    ran it."""
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "stages": {}})
    # One uncompressed, unrolled file per application (see run.py's
    # session conf); dot files are Hadoop checksums.
    for path in sorted(p for p in log_dir.iterdir() if not p.name.startswith(".")):
        app = path.name
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as lines:
            for line in lines:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is not None:
                        key = f"{app}:{ev['Stage ID']}"
                        groups[g]["stages"].setdefault(key, []).append(_task_record(ev))
    return dict(groups)


def spark_metrics(group: dict | None, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` figures of one span (or a merged set of spans)."""
    stages = (group or {}).get("stages", {})
    tasks = [t for ts in stages.values() for t in ts]
    cpu = sum(t["cpu_s"] for t in tasks)
    skew = 0.0
    if stages:
        slowest = max(stages.values(), key=lambda ts: sum(t["dur_s"] for t in ts))
        med = statistics.median(t["dur_s"] for t in slowest)
        skew = max(t["dur_s"] for t in slowest) / med if med > 0 else 1.0
    return {
        "jobs": float((group or {}).get("jobs", 0)),
        "stages": float(len(stages)),
        "tasks": float(len(tasks)),
        "task_cpu_s": cpu,
        "task_run_s": sum(t["run_s"] for t in tasks),
        "cpu_util": cpu / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_read_bytes": float(sum(t["shuffle_read"] for t in tasks)),
        "shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
        "spill_bytes": float(sum(t["spill"] for t in tasks)),
        "slowest_stage_skew": skew,
    }


def merge_groups(groups: list[dict | None]) -> dict:
    out = {"jobs": 0, "stages": {}}
    for g in groups:
        if g:
            out["jobs"] += g["jobs"]
            out["stages"].update(g["stages"])
    return out
