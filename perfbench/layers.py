"""Per-layer metrics of a traced run.

Each traced iteration gives one value per metric; a run reports the
median over its traced iterations. Counts (jobs, stages, tasks, GETs,
files, rows, bytes) repeat exactly between runs of one seed; times do
not. A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import GroupStats, Tracer, parse_event_log

# spans whose subtree job/task counts are reported
_COUNTED = ("sinks.", "queries.", "functions.drop_all_null_columns")


def _subtree_stats(tracer: Tracer, idx: int, events: dict[str, GroupStats]) -> GroupStats:
    total = GroupStats()
    for i in tracer.subtree(idx):
        sp = tracer.spans[i]
        ev = events.get(sp.group, GroupStats())
        total.add(GroupStats(
            jobs=sp.counts.jobs, stages=sp.counts.stages, tasks=sp.counts.tasks,
            job_wall_s=ev.job_wall_s, executor_run_s=ev.executor_run_s,
            executor_cpu_s=ev.executor_cpu_s, gc_s=ev.gc_s,
            shuffle_write_bytes=ev.shuffle_write_bytes, spill_bytes=ev.spill_bytes,
            output_bytes=ev.output_bytes,
        ))
    return total


def iteration_metrics(tracer: Tracer, sample: dict, events: dict[str, GroupStats]) -> dict:
    """The per-layer values of one traced iteration."""
    m: dict[str, float] = defaultdict(float)
    root, *inner = sample["spans"]
    for i in inner:
        sp = tracer.spans[i]
        m[f"{sp.name}.s"] += sp.dur
        if sp.name.startswith(_COUNTED):
            st = _subtree_stats(tracer, i, events)
            m[f"{sp.name}.jobs"] += st.jobs
            if sp.name.startswith(("sinks.", "queries.")):
                m[f"{sp.name}.tasks"] += st.tasks
            if sp.name.startswith("queries."):
                m[f"{sp.name}.stages"] += st.stages
                m[f"{sp.name}.shuffle_bytes"] += st.shuffle_write_bytes
            if sp.name.startswith("sinks."):
                # driver time outside the write jobs: planning, commit, swaps
                m["sinks.commit_s"] += sp.dur - st.job_wall_s
        if sp.name.startswith("plans."):
            m[f"{sp.name}.self_s"] += tracer.self_time(i)
        if sp.name == "session.load_tables":
            m["session.load_tables.calls"] += 1
    total = _subtree_stats(tracer, root, events)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = getattr(total, k)
    up = sample["upstream"]
    if up is not None:
        m["sources.upstream_calls"] = up["calls"]
        m["sources.upstream_failed"] = up["failed"]
        m["sources.upstream_bytes"] = up["bytes"]
        m["sources.upstream_busy_s"] = up["busy_s"]
        m["sources.gets_per_request"] = up["calls"] / max(1, up["distinct_urls"])
    files, size = sample["files"]
    if files:
        m["sinks.files_written"] = files
        m["sinks.bytes_written"] = size
        m["sinks.output_rows"] = sample["rows"]
        m["sinks.bytes_per_row"] = size / max(1, sample["rows"])
    m.update(sample["extra"])
    return m


def per_layer(tracer: Tracer, samples: list[dict], event_log_dir: str,
              traced_s: float, run_s: float,
              load: tuple[float, float]) -> dict[str, float]:
    """Median per-layer values over the traced iterations, plus the
    tracing overhead and the host load."""
    events = parse_event_log(event_log_dir)
    per_it = [iteration_metrics(tracer, s, events) for s in samples]
    names = {k for it in per_it for k in it}
    out = {k: statistics.median([it.get(k, 0.0) for it in per_it]) for k in names}
    # traced and untraced times are the same estimate (harness.fastest)
    out["trace.run_s"] = traced_s
    out["trace.overhead_s"] = traced_s - run_s
    out["host.loadavg_start"], out["host.loadavg_end"] = load
    return out
