"""Fold a Spark event log into counters per job group (stdlib only).

Spark writes one JSON object per line. A stage is attributed to the job
group in the properties it was submitted with; its tasks' metrics are
summed into that group. Jobs without a group land under ``""``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "jobs", "stages", "tasks", "task_s", "scan_tasks", "scan_task_s", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def fold(lines) -> dict[str, dict[str, float]]:
    """Event-log lines -> ``{job_group: {field: value}}``.

    Besides :data:`FIELDS`, each group gets ``job_wall_s``: the summed wall
    time of its jobs, from submission to completion.
    """
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS + ("job_wall_s",), 0.0))
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            job_group[ev["Job ID"]] = g
            job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start and ev.get("Completion Time"):
                out[job_group[jid]]["job_wall_s"] += (ev["Completion Time"] - job_start[jid]) / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group(ev.get("Properties")) or stage_group.get(sid, "")
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(ev.get("Stage ID"), "")]
            g["tasks"] += 1
            g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            inp = m.get("Input Metrics") or {}
            if inp.get("Bytes Read", 0) > 0 or inp.get("Records Read", 0) > 0:
                g["scan_tasks"] += 1
                g["scan_task_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in out.items()}


def fold_dir(path: str) -> dict[str, dict[str, float]]:
    """Fold every event-log file under ``path``: one log per SparkContext,
    either a single file or a rolling ``eventlog_v2_*`` directory."""
    merged: dict[str, dict[str, float]] = {}
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for name in sorted(files):
            if name.startswith((".", "appstatus_")):  # checksums, status markers
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                for g, vals in fold(f).items():
                    acc = merged.setdefault(g, dict.fromkeys(vals, 0.0))
                    for k, v in vals.items():
                        acc[k] += v
    return merged


def total(groups: dict[str, dict[str, float]], prefix: str = "", contains: str = "") -> dict[str, float]:
    """Sum the groups whose label starts with ``prefix`` and contains ``contains``."""
    return total_of(groups, {g for g in groups if g.startswith(prefix) and contains in g})


def total_of(groups: dict[str, dict[str, float]], labels: set[str]) -> dict[str, float]:
    """Sum the groups named in ``labels``."""
    acc = dict.fromkeys(FIELDS + ("job_wall_s",), 0.0)
    for g in labels & groups.keys():
        for k, v in groups[g].items():
            acc[k] += v
    return acc
