"""Fold a Spark event log into per-call layer records.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.compress=false`` (a plain file, or a rolling
``eventlog_v2_*`` directory of ``events_<n>_*`` files) using the
standard library only.  Each benchmark call runs under its own job
group; ``SparkListenerJobStart`` carries that group and the job's stage
ids, and every ``SparkListenerTaskEnd`` names its stage, so task
metrics fold up to the call that caused them.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field


@dataclass
class CallTrace:
    """Executor-side totals of one job group."""

    jobs: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)
    # per RDD-scope name ("Scan parquet ", "Scan binaryFile ", ...)
    scope_stages: dict[str, set[int]] = field(default_factory=dict)
    scope_run_s: dict[str, float] = field(default_factory=dict)
    scope_records: dict[str, int] = field(default_factory=dict)

    def covered_s(self) -> float:
        """Wall time during which at least one task ran."""
        total, end = 0, None
        for lo, hi in sorted(self.intervals):
            if end is None or lo > end:
                total += hi - lo
                end = hi
            elif hi > end:
                total += hi - end
                end = hi
        return total / 1000.0


def _event_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    logs = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            logs.append((int(m.group(1)), os.path.join(path, name)))
        elif name.startswith("eventlog_v2_") or name.startswith("local-"):
            logs.extend((0, f) for f in _event_files(os.path.join(path, name)))
    return [f for _, f in sorted(logs)]


def read_events(path: str) -> Iterator[dict]:
    """Every event of the log(s) at ``path``, in write order."""
    for name in _event_files(path):
        if name.endswith(".crc") or os.path.basename(name).startswith("appstatus"):
            continue
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return names


def fold(events: Iterable[dict]) -> dict[str, CallTrace]:
    """Per job group totals; jobs outside any group are dropped."""
    stage_group: dict[int, str] = {}
    stage_scopes: dict[int, set[str]] = {}
    calls: dict[str, CallTrace] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            call = calls.setdefault(group, CallTrace())
            call.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            stage_scopes.setdefault(info["Stage ID"], set()).update(_scope_names(info))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            if group is None:
                continue
            call = calls[group]
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                call.failed_tasks += 1
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            call.tasks += 1
            call.stages.add(sid)
            call.intervals.append((info["Launch Time"], info["Finish Time"]))
            run_s = m.get("Executor Run Time", 0) / 1e3
            call.run_s += run_s
            call.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            call.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            call.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            call.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            call.spill_bytes += m.get("Disk Bytes Spilled", 0)
            records = (m.get("Input Metrics") or {}).get("Records Read", 0)
            for scope in stage_scopes.get(sid, ()):
                call.scope_stages.setdefault(scope, set()).add(sid)
                call.scope_run_s[scope] = call.scope_run_s.get(scope, 0.0) + run_s
                call.scope_records[scope] = call.scope_records.get(scope, 0) + records
    return calls
