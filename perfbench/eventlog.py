"""Spark event-log reader: per-task rows keyed by the job label.

The benchmark's tracer sets each job's description to ``it=<round>
<label>`` (see tracing.py). This reader turns an event-log directory into
``Task`` and ``Job`` rows carrying that label and round; jobs submitted
outside any traced call get the label ``unlabelled``. Files are opened
with tools/stage_profile.py's reader (plain or zstd), and, as there,
failed or killed task attempts add no executor time.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

from tools.stage_profile import _open_log

_DESC = re.compile(r"^(?:it=(-?\d+) )?(\S+)")


@dataclass
class Task:
    label: str
    round: int | None
    launch: float  # epoch seconds
    finish: float
    run_s: float  # executor run time
    cpu_s: float  # executor JVM CPU time
    shuffle_mb: float  # shuffle bytes read (local + remote) + written


@dataclass
class Job:
    label: str
    round: int | None
    submitted: float  # epoch seconds


@dataclass
class EventLog:
    tasks: list[Task]
    jobs: list[Job]


def parse_label(description: str | None) -> tuple[str, int | None]:
    """``"it=3 frontier"`` -> ("frontier", 3); no description -> unlabelled."""
    m = _DESC.match(description or "")
    if not m:
        return "unlabelled", None
    return m.group(2), (int(m.group(1)) if m.group(1) is not None else None)


def _app_logs(ev_dir: str) -> list[list[str]]:
    """One list of files per application: a single-file log, or the
    ``events_<n>_<app>`` parts of a rolling ``eventlog_v2_<app>`` dir
    (Spark 4's layout) in part order."""
    apps = []
    for fn in sorted(os.listdir(ev_dir)):
        path = os.path.join(ev_dir, fn)
        if os.path.isfile(path) and not fn.startswith("."):
            apps.append([path])
        elif os.path.isdir(path) and fn.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps.append([os.path.join(path, p) for p in parts])
    return apps


def read_dir(ev_dir: str) -> EventLog:
    """Every application log under ``ev_dir``, merged."""
    tasks: list[Task] = []
    jobs: list[Job] = []
    for parts in _app_logs(ev_dir):
        t, j = _read_app(parts)
        tasks.extend(t)
        jobs.extend(j)
    return EventLog(tasks, jobs)


def _events(parts: list[str]):
    for path in parts:
        with _open_log(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a truncated last line of an in-progress log


def _read_app(parts: list[str]) -> tuple[list[Task], list[Job]]:
    stage_label: dict[int, tuple[str, int | None]] = {}
    jobs: list[Job] = []
    tasks: list[Task] = []
    for ev in _events(parts):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            lab = parse_label((ev.get("Properties") or {}).get("spark.job.description"))
            jobs.append(Job(*lab, ev.get("Submission Time", 0) / 1e3))
            for sid in ev.get("Stage IDs", []):
                # a reused stage keeps the label of the job that ran it first
                stage_label.setdefault(sid, lab)
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            shuffle = (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            lab, rnd = stage_label.get(ev.get("Stage ID"), ("unlabelled", None))
            tasks.append(Task(
                lab, rnd,
                info.get("Launch Time", 0) / 1e3, info.get("Finish Time", 0) / 1e3,
                m.get("Executor Run Time", 0) / 1e3,
                m.get("Executor CPU Time", 0) / 1e9,
                shuffle / 1e6,
            ))
    return tasks, jobs


def busy_core_s(tasks: list[Task], lo: float, hi: float) -> float:
    """Core-seconds of task execution inside the window [lo, hi]."""
    return sum(
        max(0.0, min(t.finish, hi) - max(t.launch, lo)) for t in tasks
    )
