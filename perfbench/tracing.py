"""Layer spans for the traced run, and the Spark event-log reader.

A span wraps one call into a package layer.  Entering it sets the Spark job
group to the span's name, so every job the call launches is attributed to
that layer; leaving it restores the enclosing span's group.  Package
functions that call another layer internally (``dedup`` calling
``blocking.candidate_pairs``, ``dedup_index`` calling
``connected_components``) are wrapped for the duration of the traced pass,
so the nested layer gets its own span.  A layer's seconds are its spans'
self time: duration minus the time covered by nested spans.

Jobs and stages per group come from ``statusTracker``; task metrics come
from the event log, matched to a group through the job's
``spark.jobGroup.id`` property.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from healthcare_entity_resolution_spark.operators import blocking as B
from healthcare_entity_resolution_spark.operators import components as G
from healthcare_entity_resolution_spark.operators import dedup as D
from healthcare_entity_resolution_spark.operators import dedup_index as DIX
from healthcare_entity_resolution_spark.plans.lineage import LineageLog

MB = 1024.0 * 1024.0


def dir_stats(path: str) -> tuple[int, float]:
    """(file count, MB) of a directory tree; (0, 0.0) if it does not exist."""
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size / MB


class Tracer:
    """Spans of one traced pass, plus the lineage events the layers log."""

    def __init__(self, spark, ckpt_dir: str):
        self.sc = spark.sparkContext
        self.ckpt_dir = ckpt_dir
        self.lineage = LineageLog()
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        ckpt0 = dir_stats(self.ckpt_dir)[1]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(dict(
                name=name, parent=parent, start=t0, end=t1,
                ckpt_mb=dir_stats(self.ckpt_dir)[1] - ckpt0,
            ))

    # -- nested-layer wrappers ---------------------------------------------

    def _nested(self, name: str, fn, count_key: str):
        """Wrap ``fn(frame, ...)`` in a span of its own.  When called from
        inside another span, the input is counted first under the caller's
        group, so lazy upstream work (a persisted MinHash state) lands in
        the caller's layer, not in this one.  The result is persisted and
        counted inside the span: its boundary is concrete."""
        tracer = self
        sig = inspect.signature(fn)

        def wrapped(frame, *args, **kwargs):
            if tracer._stack:
                frame.count()
            bound = sig.bind(frame, *args, **kwargs)
            bound.arguments["lineage"] = tracer.lineage
            with tracer.span(name):
                out = fn(*bound.args, **bound.kwargs).persist()
                tracer.counts[count_key] += out.count()
            return out

        return wrapped

    @contextmanager
    def instrument(self):
        """Route the package's internal calls into blocking and components
        through spans for the duration of the block."""
        targets = [
            (B, "candidate_pairs", "blocking.pairs", "pairs_out"),
            (G, "connected_components", "components", "cc_rows"),
            (D, "connected_components", "components", "cc_rows"),
            (DIX, "connected_components", "components", "cc_rows"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in targets]
        for (mod, attr, name, key), (_, _, orig) in zip(targets, saved):
            setattr(mod, attr, self._nested(name, orig, key))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)
            self._set_group(None)

    # -- aggregation ---------------------------------------------------------

    def self_seconds(self) -> dict[str, float]:
        """Span self time summed per name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return dict(out)

    def covered_seconds(self, since: float) -> float:
        """Time covered by top-level spans that start at ``since`` or later."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None and s["start"] >= since)

    def span_ckpt_mb(self, name: str) -> float:
        return sum(s["ckpt_mb"] for s in self.spans if s["name"] == name)

    def jobs_and_stages(self) -> dict[str, tuple[set, set]]:
        """Group -> (job ids, stage ids), from the status tracker."""
        st = self.sc.statusTracker()
        out = {}
        for name in {s["name"] for s in self.spans}:
            jobs = set(st.getJobIdsForGroup(name))
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            out[name] = (jobs, stages)
        return out

    def lineage_sum(self, stage: str, key: str) -> int:
        return sum(int(e.get(key, 0)) for e in self.lineage.events
                   if e["stage"] == stage)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TASK_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb")


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``:
    Spark 4's rolling ``eventlog_v2_*/events_<n>_*`` parts in order, or a
    single plain file."""
    rolling = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if rolling:
        parts = glob.glob(os.path.join(rolling[-1], "events_*"))
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p))


def group_task_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum ``TaskEnd`` metrics per job group.  A stage belongs to the group
    of the first job that lists it; tasks of stages with no group are
    dropped."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    t["tasks"] += 1
                    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / MB
                    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / MB
    return {g: dict(v) for g, v in totals.items()}


def sum_groups(task: dict[str, dict[str, float]], groups) -> dict[str, float]:
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for g in groups:
        for k, v in task.get(g, {}).items():
            out[k] += v
    return out
