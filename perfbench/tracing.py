"""Spans around the program's public entries, and the Spark event-log fold.

The traced run wraps each public entry by replacing its module (or class)
attribute from the benchmark process, records one span per call in
memory, tags the call's Spark jobs with the span's job group, and after
the session stops folds the uncompressed event log into per-span stage
metrics. A stage is attributed to the span whose job group submitted it;
a stage without a known group (a streaming micro-batch runs on its own
thread) goes to the innermost span open at its submission time, which is
unambiguous because the benchmark is a single closed-loop client.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import self_time

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    metrics: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    The open-span stack is shared by all threads on purpose: the only
    other thread that calls in is the streaming ``foreachBatch`` callback,
    which runs while the main thread blocks inside the drain, so the
    drain is its parent.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run_id = "setup"
        self.spark = None
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, time.time(),
                  parent.id if parent else None, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.group, sp.name)

    # -- wrapping the program's entries --------------------------------------

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper (restored by
        :meth:`unwrap`)."""
        original = getattr(owner, attr)
        label = name or attr

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(label, layer):
                return original(*args, **kwargs)

        self._saved.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def install_program_spans(self) -> None:
        from retail_aws_etl_pipeline_spark import ingest
        from retail_aws_etl_pipeline_spark.lake_manifest import ManifestedTable
        from retail_aws_etl_pipeline_spark.operators import compact
        from retail_aws_etl_pipeline_spark.plans import views
        from retail_aws_etl_pipeline_spark.streaming import streams

        self.wrap(ingest, "ingest_pending", "ingest")
        self.wrap(ingest, "ingest_file", "ingest")
        self.wrap(ingest, "validate_file_head", "sources", "head_check")
        self.wrap(ingest, "read_flexible_csv", "sources", "sample")
        self.wrap(streams, "run_pipeline_available_now", "streaming")
        self.wrap(streams, "gold_upsert_stream", "streaming")
        self.wrap(compact, "upsert_gold", "compact")
        self.wrap(compact, "compact_pending", "compact")
        self.wrap(ManifestedTable, "append", "lake_manifest")
        self.wrap(ManifestedTable, "overwrite_partitions", "lake_manifest")
        self.wrap(views, "register_lake_views", "views", "register")

    # -- self time -------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {sp.id: self_time((sp.start, sp.end), kids.get(sp.id, [])) for sp in self.spans}

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "layer": sp.layer, "run_id": sp.run_id,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": st[sp.id], **sp.metrics,
                }) + "\n")


# -- event log ---------------------------------------------------------------

#: stage accumulable -> (metric, scale)
STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("bytes_read", 1),
}
#: SQL metrics a file scan sets while it lists its files
SCAN_SQL_METRICS = {"number of files read": "files_read"}
FOLD_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "gc_s",
             "shuffle_write_bytes", "spill_bytes", "bytes_read", "files_read"]


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's log: a plain file, or the rolling
    ``eventlog_v2_<app>`` directory's ``events_<n>_*`` parts in order."""
    for name in os.listdir(log_dir):
        if app_id not in name or name.endswith(".inprogress"):
            continue
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            return [os.path.join(path, p) for p in parts]
        return [path]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") in SCAN_SQL_METRICS:
            out[m["accumulatorId"]] = SCAN_SQL_METRICS[m["name"]]
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def innermost(spans: list[tuple[float, float, int]], t: float) -> int | None:
    """Id of the latest-starting span whose [start, end] holds time ``t``."""
    best = None
    for start, end, sid in spans:
        if start <= t <= end and (best is None or start >= best[0]):
            best = (start, sid)
    return best[1] if best else None


def fold_events(events, spans: list[Span]) -> dict[int, dict]:
    """Per-span stage metrics from an event stream (spans by id)."""
    by_group = {sp.group: sp.id for sp in spans}
    windows = [(sp.start, sp.end, sp.id) for sp in spans if sp.end is not None]
    out = {sp.id: dict.fromkeys(FOLD_KEYS, 0) for sp in spans}

    def owner(props: dict | None, t_ms: float | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id")
        if group in by_group:
            return by_group[group]
        return innermost(windows, t_ms / 1000.0) if t_ms is not None else None

    stage_owner: dict[tuple[int, int], int | None] = {}
    sql_ids: dict[int, str] = {}
    exec_owner: dict[int, int | None] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            sid = owner(ev.get("Properties"), ev.get("Submission Time"))
            if sid is not None:
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_owner[key] = owner(ev.get("Properties"), info.get("Submission Time"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            sid = stage_owner.get(key)
            if sid is None:
                sid = owner(None, info.get("Submission Time"))
            if sid is None:
                continue
            agg = out[sid]
            agg["stages"] += 1
            agg["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                metric = STAGE_ACCUMULABLES.get(acc.get("Name"))
                if metric is not None:
                    agg[metric[0]] += float(acc.get("Value", 0)) * metric[1]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), sql_ids)
            exec_owner[ev["executionId"]] = owner(None, ev.get("time"))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), sql_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sid = exec_owner.get(ev.get("executionId"))
            if sid is None:
                continue
            for acc_id, value in ev.get("accumUpdates", []):
                metric = sql_ids.get(acc_id)
                if metric is not None:
                    out[sid][metric] += value
    return out
