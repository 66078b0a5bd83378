"""Spans recorded around calls into the engine, and the per-layer metrics
derived from them and from Spark's own event log.

Each span sets a Spark job group of its own, so every job, stage and task
the span's call starts can be found in the event log by that group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# Layer spans, named after the module whose public function they wrap.
SPANS = (
    "extract", "normalize", "blocker.pre", "blocker.ids",
    "spatial_join.index", "spatial_join.refine_geom", "spatial_join.assign",
    "manifest.append", "manifest.read_range", "manifest.read",
    "dedup.minhash_lsh_pairs", "dedup.connected_components",
)
SPAN_STATS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "task_cpu_s": "s", "shuffle_mb": "MB", "sched_delay_s": "s",
}
# Spans whose calls run Python workers get the Python-boundary stats too;
# on the others they are 0 by construction.
PYTHON_SPANS = ("normalize", "blocker.pre", "spatial_join.assign", "dedup.minhash_lsh_pairs")
PYTHON_STATS = {"python_init_s": "s", "arrow_mb": "MB"}
SPARK_METRICS = {"spark.failed_tasks": "count", "spark.gc_s": "s", "spark.spill_mb": "MB"}
KERNEL_METRICS = {
    "kernel.polygonize.us_per_block": "us/block",
    "kernel.overlay.us_per_vertex": "us/vertex",
    "kernel.pointops.ns_per_candidate": "ns/candidate",
    "kernel.pointops.edge_tests": "count",
    "kernel.cells.ns_per_point": "ns/point",
    "kernel.texthash.us_per_doc": "us/doc",
    "kernel.wkb.us_per_geom": "us/geom",
}
RATIO_METRICS = {
    "spatial_join.refine_hit_ratio": "ratio",
    "spatial_join.unassigned_frac": "frac",
    "manifest.bytes_per_append": "B",
    "manifest.files_read_frac": "frac",
    "dedup.pairs_per_doc": "ratio",
}
TRACE_METRICS = {"trace.overhead_frac": "frac", "trace.unattributed_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in the order they are printed."""
    units = {}
    for s in SPANS:
        stats = {**SPAN_STATS, **PYTHON_STATS} if s in PYTHON_SPANS else SPAN_STATS
        units.update({f"{s}.{k}": u for k, u in stats.items()})
    for d in (SPARK_METRICS, KERNEL_METRICS, RATIO_METRICS, TRACE_METRICS):
        units.update(d)
    return units


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None  # job group of the enclosing span
    group: str
    phase: str  # setup, timed, extra (ratios, kernel inputs) or sweep


class Tracer:
    """Records spans in memory. With ``sc=None`` it only times them and sets
    no job group, which is how untraced runs use it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{name}#{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(group)
        self._set_group(group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(Span(name, t0, t1, parent, group, self.phase))

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            # a null value removes the property: jobs then have no group
            self.sc.setLocalProperty("spark.jobGroup.id", group)


# -- event log ----------------------------------------------------------------

_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageSubmitted", "SparkListenerTaskEnd")
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # (submit_s, end_s) per job
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    python_init_s: float = 0.0
    arrow_bytes: float = 0.0
    shuffle_bytes: float = 0.0
    sched_delay_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: float = 0.0


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Event log → statistics per job group (jobs without a group go to "")."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    with open(path) as fh:
        for line in fh:
            if not line[10:50].startswith(_WANTED):  # line starts {"Event":"<name>"
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_submit[jid] = e["Submission Time"] / 1e3
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                g(job_group.get(jid, "")).jobs.append((job_submit.get(jid, 0.0), e["Completion Time"] / 1e3))
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
            else:
                _add_task(g(stage_group.get(e["Stage ID"], "")), e)
    return groups


def _add_task(st: GroupStats, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
    st.sched_delay_s += max(duration - busy, 0) / 1e3
    for a in info.get("Accumulables", ()):
        name = a.get("Name")
        if name in _PY_INIT:
            st.python_init_s += float(a.get("Update", 0)) / 1e3
        elif name in _PY_BYTES:
            st.arrow_bytes += float(a.get("Update", 0))


def _covered(start: float, end: float, intervals: list) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            total += b - a
            cur = b
    return total


def span_metrics(spans: list[Span], groups: dict[str, GroupStats]) -> dict[str, float]:
    """Median over a span name's occurrences of each per-span statistic,
    taken from the timed phase if the span ran there, else from set-up
    (where ingest_append builds its world), else from the sweep (the tiny
    ingest_append run of a traced world_build)."""
    out: dict[str, float] = {}
    for name in SPANS:
        occ = []
        for phase in ("timed", "setup", "sweep"):
            occ = occ or [s for s in spans if s.name == name and s.phase == phase]
        rows = []
        for s in occ:
            st = groups.get(s.group) or GroupStats()
            wall = s.end - s.start
            rows.append({
                "wall_s": wall,
                "driver_s": wall - _covered(s.start, s.end, st.jobs),
                "jobs": len(st.jobs), "tasks": st.tasks, "task_cpu_s": st.cpu_s,
                "python_init_s": st.python_init_s, "arrow_mb": st.arrow_bytes / 1e6,
                "shuffle_mb": st.shuffle_bytes / 1e6, "sched_delay_s": st.sched_delay_s,
            })
        stats = {**SPAN_STATS, **PYTHON_STATS} if name in PYTHON_SPANS else SPAN_STATS
        for k in stats:
            out[f"{name}.{k}"] = statistics.median(r[k] for r in rows) if rows else 0.0
    return out


def unattributed(spans: list[Span]) -> float:
    """Median over timed reps of the rep's wall time not inside any layer
    span: the benchmark's own driver work between calls."""
    per_rep = []
    for rep in (s for s in spans if s.name == "rep" and s.phase == "timed"):
        inner = sum(c.end - c.start for c in spans if c.parent == rep.group)
        per_rep.append(rep.end - rep.start - inner)
    return statistics.median(per_rep) if per_rep else 0.0


def spark_totals(groups: dict[str, GroupStats]) -> dict[str, float]:
    return {
        "spark.failed_tasks": sum(g.failed_tasks for g in groups.values()),
        "spark.gc_s": sum(g.gc_s for g in groups.values()),
        "spark.spill_mb": sum(g.spill_bytes for g in groups.values()) / 1e6,
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
