"""Per-stage census of a Spark event-log directory, shared by the
profiling tools (tools/pipeline_profile.py, tools/query_profile.py).

Executor-seconds barely inflate when the host steals wall clock, so
the tools attribute time from the event log rather than from walls
alone (guide §1.1/§7.1).  Enable logging with
``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``, label the measured jobs with
``setJobDescription``, then read the directory back with
:func:`stage_census`.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _new_stage() -> dict:
    return {
        "name": "",
        "run_ms": 0,
        "gc_ms": 0,
        "sh_read": 0,
        "sh_write": 0,
        "input": 0,
        "tasks": 0,
        "wall_s": 0.0,
    }


def stage_census(event_dir: str) -> dict[str, dict[int, dict]]:
    """Job description → stage id → summed task metrics of that stage:
    executor run and JVM GC ms, shuffle read/write bytes, input bytes,
    task count, plus the stage's name and submission-to-completion
    wall in seconds.  Only stages that ran tasks are listed (a reused
    shuffle's stage is skipped); jobs without a description are keyed
    by ``""``.

    Each stage is charged to the description of the first job that
    lists it: a stage runs in the job that first submits it, and later
    jobs that reuse its shuffle skip it.  Unparseable lines (the tail
    of a log still being written) are skipped."""
    stage_desc: dict[int, str] = {}
    stages: defaultdict[int, dict] = defaultdict(_new_stage)
    for root, _dirs, files in os.walk(event_dir):
        for fname in files:
            if "appstatus" in fname or fname.endswith(".crc"):
                continue
            with open(os.path.join(root, fname)) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    _add_event(ev, stage_desc, stages)
    out: dict[str, dict[int, dict]] = {}
    for sid, stage in stages.items():
        if sid in stage_desc and stage["tasks"]:
            out.setdefault(stage_desc[sid], {})[sid] = stage
    return out


def _add_event(ev: dict, stage_desc: dict[int, str], stages: defaultdict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
        for sid in ev.get("Stage IDs", []):
            stage_desc.setdefault(sid, desc)
        for si in ev.get("Stage Infos", []):
            stages[si["Stage ID"]]["name"] = si.get("Stage Name", "")
    elif kind == "SparkListenerStageCompleted":
        si = ev.get("Stage Info", {})
        sub, comp = si.get("Submission Time"), si.get("Completion Time")
        if sub and comp:
            stages[si["Stage ID"]]["wall_s"] = (comp - sub) / 1000.0
    elif kind == "SparkListenerTaskEnd":
        s = stages[ev["Stage ID"]]
        m = ev.get("Task Metrics") or {}
        read = m.get("Shuffle Read Metrics") or {}
        s["tasks"] += 1
        s["run_ms"] += m.get("Executor Run Time", 0)
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["sh_read"] += read.get("Remote Bytes Read", 0) + read.get(
            "Local Bytes Read", 0
        )
        s["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        s["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
