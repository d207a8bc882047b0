"""Spark event-log rollup keyed by the harness's local properties.

Every job and stage carries the submitting thread's local properties, so
``perfbench.phase`` (which measured unit) and ``perfbench.span`` (which
traced layer call) attribute each task's executor CPU, GC, shuffle write
and spill without re-implementing the pipeline's DAG.  Jobs with no span
property were submitted outside any layer wrapper.

Reads one application's uncompressed log: either a single file or the
rolling ``eventlog_v2_*/events_N_*`` directory that Spark 4 writes by
default.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from spans import PHASE_KEY, SPAN_KEY

COUNTERS = ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def _app_log(events_dir: str) -> list[str]:
    """Files of the single application logged under events_dir, in order."""
    entries = [e for e in os.listdir(events_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {events_dir}, found {entries}")
    path = os.path.join(events_dir, entries[0])
    if not os.path.isdir(path):
        return [path]
    parts = [p for p in os.listdir(path) if p.startswith("events_")]
    if any(p.endswith((".zstd", ".lz4", ".snappy", ".lzf")) for p in parts):
        raise RuntimeError(f"compressed event log in {path}; the harness disables compression")
    parts.sort(key=lambda p: int(p.split("_")[1]))
    return [os.path.join(path, p) for p in parts]


def _events(events_dir: str):
    for path in _app_log(events_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def rollup(events_dir: str) -> dict[tuple[str | None, str | None], dict[str, float]]:
    """(phase, span id or None) -> summed COUNTERS."""
    out: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_key: dict[int, tuple] = {}
    for ev in _events(events_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            out[(props.get(PHASE_KEY), props.get(SPAN_KEY))]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_key[ev["Stage Info"]["Stage ID"]] = (props.get(PHASE_KEY), props.get(SPAN_KEY))
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"], (None, None))
            m = ev.get("Task Metrics") or {}
            c = out[key]
            c["tasks"] += 1
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            c["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
    return dict(out)


def phase_totals(roll: dict, phase: str) -> dict[str, float]:
    tot = dict.fromkeys(COUNTERS, 0.0)
    for (ph, _), c in roll.items():
        if ph == phase:
            for k in COUNTERS:
                tot[k] += c[k]
    return tot
