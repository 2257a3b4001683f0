"""Stdlib reader for Spark's event log: per-job-group task metrics.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
set. This folds the ``SparkListenerJobStart``/``JobEnd`` and
``SparkListenerTaskEnd`` events into totals per job group (the
``spark.jobGroup.id`` local property; jobs submitted without a group fall
back to their ``spark.job.description``, then to ``"(none)"``), so any
run that tags its jobs, or none, can be read the same way. Both the v1
layout (one file) and the v2 rolling layout (a directory) are read; the
log must be uncompressed (``spark.eventLog.compress=false``).

Usage: python3 perfbench/eventlog.py <event log file> [...]
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

METRICS = (
    "jobs", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "input_bytes", "output_rows", "output_bytes", "output_tasks",
)


def _files(path: str) -> list[str]:
    """A v1 log is one file; a v2 (rolling) log is a directory of
    ``events_<n>_<app>`` files read in ``n`` order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _events(path: str):
    for f in _files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by a set of [start, end] millisecond intervals."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def group_metrics(*paths: str) -> dict[str, dict[str, float]]:
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(METRICS, 0))
    for path in paths:
        for ev in _events(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                group = (props.get("spark.jobGroup.id")
                         or props.get("spark.job.description") or "(none)")
                job_group[jid] = group
                job_span[jid] = [ev.get("Submission Time", 0), None]
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
                out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                span = job_span.get(ev["Job ID"])
                if span is not None:
                    span[1] = ev.get("Completion Time", span[0])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = out[job_group.get(jid, "(none)")]
                _add_task(m, ev.get("Task Metrics") or {})
    by_group: dict[str, list] = defaultdict(list)
    for jid, (start, end) in job_span.items():
        if end is not None:
            by_group[job_group[jid]].append((start, end))
    for group, spans in by_group.items():
        out[group]["job_wall_s"] = _union_s(spans)
    return dict(out)


def _add_task(m: dict, tm: dict) -> None:
    m["tasks"] += 1
    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    im = tm.get("Input Metrics") or {}
    m["input_rows"] += im.get("Records Read", 0)
    m["input_bytes"] += im.get("Bytes Read", 0)
    om = tm.get("Output Metrics") or {}
    m["output_rows"] += om.get("Records Written", 0)
    m["output_bytes"] += om.get("Bytes Written", 0)
    if om.get("Bytes Written", 0):
        m["output_tasks"] += 1


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    json.dump(group_metrics(*sys.argv[1:]), sys.stdout, indent=1, sort_keys=True)
    print()
