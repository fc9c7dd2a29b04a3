"""Totals of Spark's JSON event log, per benchmark label.

The benchmark labels every call into the engine with ``setJobGroup``;
Spark copies the group into the properties of each job and stage it
submits. Jobs that the engine submits from its own helper threads do not
inherit the group (Spark local properties are per thread), so a job
without a group is given the label of the benchmark call whose wall
interval holds its submission time. A job that fits no interval stays
under ``UNLABELLED``, which the benchmark counts as a fault of the trace.

Only the uncompressed, non-rolling log format is read
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

UNLABELLED = "(none)"

# Stage accumulables of the Python crossings (SQL metrics, summed over
# the stage's tasks by Spark itself).
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"

LAYER_KEYS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_worker_s", "python_bytes_in", "python_bytes_out",
    "shuffle_write_bytes", "shuffle_read_bytes",
)


@dataclass
class LabelTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_worker_s: float = 0.0
    python_bytes_in: int = 0
    python_bytes_out: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in LAYER_KEYS}


@dataclass
class LogTotals:
    labels: dict = field(default_factory=lambda: defaultdict(LabelTotals))
    n_jobs: int = 0
    n_tasks: int = 0
    jobs_by_time: int = 0  # jobs labelled from the call intervals

    def get(self, label: str) -> LabelTotals:
        return self.labels.get(label, LabelTotals())


def _label_at(intervals, t_ms: float) -> str:
    for label, start_ms, end_ms in intervals:
        if start_ms <= t_ms <= end_ms:
            return label
    return UNLABELLED


def _acc_value(acc: dict) -> float:
    v = acc.get("Value")
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read(path: str, intervals=()) -> LogTotals:
    """Total the log at ``path`` per label.

    ``intervals`` is a list of ``(label, start_ms, end_ms)`` wall-clock
    spans of the benchmark's calls, used for jobs that carry no group."""
    job_label: dict[int, str] = {}
    stage_label: dict[int, str] = {}
    out = LogTotals()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    group = _label_at(intervals, ev["Submission Time"])
                    out.jobs_by_time += group != UNLABELLED
                job_label[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_label.setdefault(sid, group)
                out.labels[group].jobs += 1
                out.n_jobs += 1
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"], UNLABELLED)
                tot = out.labels[label]
                m = ev.get("Task Metrics") or {}
                tot.tasks += 1
                out.n_tasks += 1
                tot.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                tot.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                tot.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                tot.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                tot.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                label = stage_label.get(info["Stage ID"], UNLABELLED)
                tot = out.labels[label]
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name == _PY_TIME:
                        tot.python_worker_s += _acc_value(acc) / 1e3
                    elif name == _PY_SENT:
                        tot.python_bytes_in += int(_acc_value(acc))
                    elif name == _PY_RECV:
                        tot.python_bytes_out += int(_acc_value(acc))
    return out
