"""Traced mode: spans around the program's layer boundaries.

The tracer wraps the public functions the pipelines and the registry
builders call, by replacing the module attributes that name them, so
the program itself is unchanged and the wrappers are active only
while installed. Each wrapped call is one span and one Spark job
group, so every job it triggers is attributed to it:

- job, stage and task counts come from ``statusTracker()``;
- executor time, CPU, GC, shuffle, spill and output bytes come from
  the Spark event log, parsed once the session has stopped.

A span's self time is its duration minus that of its direct children.
"""

from __future__ import annotations

import functools
import glob
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "etl_python_azure_spark"

# layer name -> (module, function) of each wrapped public function
TARGETS = {
    "sources.fetch_json": ("sources.rest", "fetch_json"),
    "sources.paginated_fetch": ("sources.rest", "paginated_fetch"),
    "sources.records_to_df": ("sources.rest", "records_to_df"),
    "sources.distributed_fetch": ("sources.rest", "distributed_fetch"),
    "sources.parse_fetched_json": ("sources.rest", "parse_fetched_json"),
    "operators.left_join": ("operators.joins", "left_join"),
    "functions.drop_all_null_columns": ("functions.cleaning", "drop_all_null_columns"),
    "sinks.full_refresh": ("sinks.files", "full_refresh"),
    "sinks.ranged_overwrite": ("sinks.files", "ranged_overwrite"),
    "plans.run_latinad": ("plans.latinad", "run_latinad"),
    "session.load_tables": ("session", "load_tables"),
}


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    counts: GroupStats | None = None  # statusTracker counts, set after the iteration

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class GroupStats:
    """Per job group: statusTracker counts plus event-log metrics."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: GroupStats) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


class Tracer:
    """Spans, job groups and the module-attribute wrappers."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._tag = "untraced"

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        """Wrap every module attribute in the package that names a
        target function."""
        import importlib

        for layer, (mod, attr) in TARGETS.items():
            fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
            wrapper = self._wrap(layer, fn)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for name, val in list(vars(m).items()):
                    if val is fn:
                        setattr(m, name, wrapper)
                        self._patched.append((m, name, fn))

    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def uninstall(self) -> None:
        for m, name, fn in reversed(self._patched):
            setattr(m, name, fn)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self._tag}/{idx}", parent, time.perf_counter())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def iteration(self, tag: str):
        """Root span of one traced iteration; its spans' groups start
        with *tag*."""
        self._tag = tag
        with self.span("iteration") as root:
            yield root

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    # -- statusTracker ------------------------------------------------------
    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def tracker_counts(self, group: str) -> GroupStats:
        st = self.sc.statusTracker()
        g = GroupStats()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            g.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    g.stages += 1
                    g.tasks += stage.numCompletedTasks
        return g


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group executor metrics from a finished Spark event log
    (the one application under *log_dir*)."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    out[job_group[jid]].job_wall_s += (
                        ev["Completion Time"] - job_start[jid]
                    ) / 1000
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g.executor_run_s += m.get("Executor Run Time", 0) / 1000
                g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1000
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
