"""Per-layer Spark task metrics from an uncompressed Spark event log.

The benchmark labels every Spark job with the layer that started it
(``SparkContext.setJobDescription``); this reader maps each task back to its
job's label through the stage ids and sums the task metrics per label.
Needs ``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "shuffle_write_records", "input_bytes", "input_records", "tasks",
)


def _event_files(log_dir: str) -> dict[str, list[str]]:
    """app key → its event files (plain logs and rolling ``eventlog_v2_*`` dirs)."""
    apps: dict[str, list[str]] = defaultdict(list)
    for dirpath, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith((".", "appstatus")):
                continue
            rolling = f.startswith("events_")
            apps[dirpath if rolling else os.path.join(dirpath, f)].append(
                os.path.join(dirpath, f)
            )
    return apps


def layer_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """label → {field: total} over every task of every job carrying that label.

    Jobs without a description (set-up, untraced work) are skipped.  A stage
    shared by several jobs counts once, under the first job that listed it."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for files in _event_files(log_dir).values():
        stage_label: dict[int, str] = {}
        task_ends = []
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        label = (ev.get("Properties") or {}).get("spark.job.description")
                        if label:
                            for sid in ev.get("Stage IDs", []):
                                stage_label.setdefault(int(sid), label)
                    elif '"SparkListenerTaskEnd"' in line:
                        task_ends.append(json.loads(line))
        for ev in task_ends:
            label = stage_label.get(int(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if label is None or not m:
                continue
            acc = out[label]
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            inp = m.get("Input Metrics") or {}
            acc["input_bytes"] += inp.get("Bytes Read", 0)
            acc["input_records"] += inp.get("Records Read", 0)
            acc["tasks"] += 1
    return dict(out)
