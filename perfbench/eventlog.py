"""Spark event-log reader: jobs and per-stage task metrics, keyed by the
span that started them.

Spark writes uncompressed JSON lines when ``spark.eventLog.compress`` is
false (rolling ``eventlog_v2_<appId>/events_*`` files or one flat file).
``Tracer`` tags each job with ``spark.job.description = "span=<id>"``;
this module maps every job and stage back to that span id.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

TASK_FIELDS = ("cpu_ns", "gc_ms", "spill_bytes", "shuffle_write_bytes", "input_records",
               "output_bytes", "output_records")


@dataclass
class Stage:
    id: int
    span: int | None = None
    map_tasks: int = 0  # ShuffleMapTask: the stage ends in a shuffle write
    m: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


@dataclass
class Job:
    id: int
    span: int | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith("span="):
        try:
            return int(desc[5:])
        except ValueError:
            return None
    return None


def _task_metrics(tm: dict) -> dict:
    return {
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        # rows, not "Bytes Read": the byte counter misses parquet's
        # vectored reads (it reads ~1 B per event here)
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        "output_records": tm.get("Output Metrics", {}).get("Records Written", 0),
    }


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            span = _span_of(e.get("Properties"))
            log.jobs[e["Job ID"]] = Job(e["Job ID"], span, e["Submission Time"])
            for sid in e.get("Stage IDs", []):
                log.stages.setdefault(sid, Stage(sid, span))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            st = log.stages.setdefault(sid, Stage(sid))
            # the submitting job's properties win over the first job that
            # merely listed the stage
            span = _span_of(e.get("Properties"))
            if span is not None:
                st.span = span
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = log.stages.setdefault(sid, Stage(sid))
            if e.get("Task Type") == "ShuffleMapTask":
                st.map_tasks += 1
            for k, v in _task_metrics(e.get("Task Metrics") or {}).items():
                st.m[k] += v
    return log


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (rolling or flat), in order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    flat = [p for p in sorted(glob.glob(os.path.join(log_dir, "*")))
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
    return files + flat


def read_event_log(log_dir: str) -> EventLog:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from f
    return parse_lines(lines())


def totals(stages) -> dict:
    out = dict.fromkeys(TASK_FIELDS, 0)
    for st in stages:
        for k in TASK_FIELDS:
            out[k] += st.m[k]
    return out
