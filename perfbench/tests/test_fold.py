"""The event-log fold on a small captured log.

``data/eventlog_small.jsonl`` is the event log of a two-core session that
ran three spans (trimmed to the events and fields the fold reads):
``cycle`` holding ``agg`` (a 5000-row group-by with a shuffle) and
``scan`` (a sum over a three-file parquet table), plus a count of its own.
``data/spans_small.json`` holds the spans as the tracer recorded them.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.tracing import GROUP_PREFIX, Span, event_log_files, fold_events

DATA = os.path.join(os.path.dirname(__file__), "data")


def load():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        events = [json.loads(line) for line in f]
    with open(os.path.join(DATA, "spans_small.json")) as f:
        spans = [Span(d["id"], d["name"], d["layer"], d["start"], d["parent"], "r", d["end"])
                 for d in json.load(f)]
    return events, {sp.name: sp for sp in spans}


def test_stages_fold_into_the_span_that_ran_them():
    events, spans = load()
    folded = fold_events(events, list(spans.values()))
    agg, scan, cycle = (folded[spans[n].id] for n in ("agg", "scan", "cycle"))
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (2, 2, 3)
    assert agg["shuffle_write_bytes"] > 0 and agg["executor_run_s"] > 0
    assert (scan["jobs"], scan["files_read"], scan["bytes_read"]) == (3, 3, 3350)
    assert (cycle["jobs"], cycle["stages"]) == (2, 2)
    assert scan["files_read"] + agg["files_read"] + cycle["files_read"] == 3
    # every completed stage lands in exactly one span
    completed = [e for e in events if e["Event"] == "SparkListenerStageCompleted"]
    assert sum(f["stages"] for f in folded.values()) == len(completed)
    assert sum(f["tasks"] for f in folded.values()) == sum(
        e["Stage Info"]["Number of Tasks"] for e in completed
    )


def test_time_attribution_without_job_groups_agrees():
    events, spans = load()
    with_groups = fold_events(events, list(spans.values()))
    stripped = []
    for e in events:
        e = dict(e)
        e.pop("Properties", None)
        stripped.append(e)
    without = fold_events(stripped, list(spans.values()))
    for sp in spans.values():
        for k in ("jobs", "stages", "tasks", "files_read"):
            assert without[sp.id][k] == with_groups[sp.id][k], (sp.name, k)


def test_job_group_wins_over_time():
    events, spans = load()
    agg = spans["agg"]
    moved = []
    for e in events:
        e = json.loads(json.dumps(e))
        if e["Event"] == "SparkListenerStageSubmitted":
            e["Properties"] = {"spark.jobGroup.id": f"{GROUP_PREFIX}{agg.id}"}
        moved.append(e)
    folded = fold_events(moved, list(spans.values()))
    completed = sum(1 for e in events if e["Event"] == "SparkListenerStageCompleted")
    assert folded[agg.id]["stages"] == completed


def test_rolling_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app-1").write_text("")
    (d / "appstatus_app-1").write_text("")
    assert [os.path.basename(p) for p in event_log_files(str(tmp_path), "app-1")] == [
        "events_1_app-1", "events_2_app-1", "events_10_app-1",
    ]
    with pytest.raises(FileNotFoundError):
        event_log_files(str(tmp_path), "app-2")
