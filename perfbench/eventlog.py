"""Stdlib-only digester for Spark event logs, rolled up per job group.

Spark writes one JSON object per line when ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false`` (the default zstd codec would need a
non-stdlib decoder). Jobs carry their group in ``spark.jobGroup.id``; tasks
name their stage, and every stage belongs to the first job that lists it.

Per job group the digest reports jobs, tasks, executor run ms, max and
median task ms, shuffle read/write bytes, spill bytes and input/output
bytes. Jobs started outside any group land under the empty group ``""``.

Usage: python3 perfbench/eventlog.py <event log dir or file>
"""

from __future__ import annotations

import json
import os
import statistics
import sys

FIELDS = (
    "jobs", "tasks", "executor_run_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, _dirs, names in os.walk(path):
        out.extend(
            os.path.join(dirpath, n) for n in sorted(names)
            if not n.startswith((".", "appstatus"))
        )
    return sorted(out)


def _events(path: str):
    for fn in _event_files(path):
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn last line of an unfinished log


def _task_row(ev: dict) -> tuple[float, dict]:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    row = {
        "executor_run_ms": m.get("Executor Run Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }
    dur = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
    return dur, row


def digest(path: str) -> dict[str, dict]:
    """Job group -> totals (see module docstring), plus ``max_task_ms``
    and ``median_task_ms``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    durations: dict[str, list[float]] = {}

    def acc(group: str) -> dict:
        if group not in groups:
            groups[group] = dict.fromkeys(FIELDS, 0)
            durations[group] = []
        return groups[group]

    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            g = acc(group)
            dur, row = _task_row(ev)
            g["tasks"] += 1
            for k, v in row.items():
                g[k] += v
            durations[group].append(dur)
    for group, g in groups.items():
        ds = durations[group]
        g["max_task_ms"] = max(ds) if ds else 0
        g["median_task_ms"] = statistics.median(ds) if ds else 0
    return groups


def combine(digests: list[dict]) -> dict:
    """Sum several groups' totals (task skew is recomputed by the caller
    from the per-group figures when it needs it)."""
    out = dict.fromkeys(FIELDS, 0)
    for d in digests:
        for k in FIELDS:
            out[k] += d.get(k, 0)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/eventlog.py <event log dir or file>")
    json.dump(digest(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    print()
