"""Aggregate a Spark event log: per-stage wall vs executor time, shuffle
bytes, and the gaps BETWEEN stages (driver/scheduling time no task covers).

Usage: python scripts/analyze_eventlog.py /tmp/spark-events/<app-id> [top_n]
       python scripts/analyze_eventlog.py perfbench/.work/events --jobs [PHASE]

``--jobs`` prints job counts instead, grouped by call site (the name of each
job's last stage, e.g. ``collect at /.../pipeline.py:194``), then the jobs
and tasks of each root SQL execution in submission order, so the
adaptive-execution sub-jobs of one write are told apart from another's.
With PHASE, only jobs whose ``perfbench.phase`` local property equals it
are counted (the benchmark tags each measured unit ``m0``, ``m1``, ...).
A directory of application logs is read log by log, in name order.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _lines(path):
    """Yield event-log lines from a plain file OR a rolling eventlog_v2
    directory.  .zstd parts (written when spark.eventLog.compress is on) are
    decompressed with Spark's own bundled zstd-jni via a throwaway local[1]
    JVM — no zstd CLI or python binding exists in this container."""
    import os

    entries = sorted(os.listdir(path)) if os.path.isdir(path) else []
    if entries and not any(e.startswith("events_") for e in entries):
        # a directory of application logs (or of per-session log dirs, as
        # the benchmark writes them): read each in name order
        for e in entries:
            if not e.startswith("."):
                yield from _lines(os.path.join(path, e))
        return
    if not os.path.isdir(path):
        with open(path) as f:
            yield from (ln.rstrip("\n") for ln in f)
        return
    parts = sorted(
        (f for f in os.listdir(path) if f.startswith("events_")),
        key=lambda f: int(f.split("_")[1]),
    )
    plain = [p for p in parts if not p.endswith(".zstd")]
    if plain == parts:
        for p in parts:
            with open(os.path.join(path, p)) as f:
                yield from (ln.rstrip("\n") for ln in f)
        return
    from webdedup.session import get_spark

    spark = get_spark(app_name="zstd-decode", cores=1)
    jvm = spark._jvm
    for p in parts:
        src = os.path.join(path, p)
        if p.endswith(".zstd"):
            dst = f"/tmp/evlog_{p}.json"
            fis = jvm.java.io.FileInputStream(src)
            zis = jvm.com.github.luben.zstd.ZstdInputStream(fis)
            fos = jvm.java.io.FileOutputStream(dst)
            jvm.org.apache.commons.io.IOUtils.copyLarge(zis, fos)
            zis.close()
            fos.close()
            src = dst
        with open(src) as f:
            yield from (ln.rstrip("\n") for ln in f)


def _empty_stage() -> dict:
    return {
        "name": "?",
        "tasks": 0,
        "submit": None,
        "complete": None,
        "wall_s": 0.0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuf_r": 0,
        "shuf_w": 0,
        "spill": 0,
    }


PHASE_KEY = "perfbench.phase"  # the benchmark harness's unit tag


def job_counts(path: str, phase: str | None = None) -> Counter:
    """(call site, SQL action) -> jobs.  The call site is the name of the
    job's last stage; the SQL action is the description of the root SQL
    execution that submitted it (empty for RDD jobs), which attributes the
    adaptive-execution sub-jobs named after a thread-pool frame to the
    ``count``/``collect``/``parquet`` that caused them.  Only jobs tagged
    ``perfbench.phase == phase`` are counted when phase is given."""
    counts: Counter = Counter()
    actions: dict[str, str] = {}
    for line in _lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            actions[str(ev["executionId"])] = ev.get("description", "")
            continue
        if kind != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        if phase is not None and props.get(PHASE_KEY) != phase:
            continue
        infos = ev.get("Stage Infos") or [{"Stage ID": 0, "Stage Name": "?"}]
        last = max(infos, key=lambda si: si["Stage ID"])
        root = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
        counts[(last["Stage Name"].split("\n")[0], actions.get(root or "", ""))] += 1
    return counts


_WRITE_TARGET = re.compile(r"InsertIntoHadoopFsRelationCommand\n.*?Arguments: file:(\S+?),", re.S)


def executions(path: str, phase: str | None = None) -> list[dict]:
    """One row per root SQL execution that submitted a job, in submission
    order: its SQL action, the directory it writes (parquet writes), and
    its jobs and tasks (sub-executions and adaptive-execution sub-jobs
    included).  A job outside any SQL execution is a row of its own.  Ids
    restart in each application log, so a row's id is prefixed ``s<n>.``,
    n counting the logs read."""
    rows: dict[str, dict] = {}
    info: dict[str, tuple[str, str]] = {}  # execution id -> (action, target)
    stage_row: dict[int, dict] = {}
    app = -1
    for line in _lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event", "")
        if kind == "SparkListenerLogStart":
            app += 1
            info.clear()
            stage_row.clear()
        elif kind.endswith("SQLExecutionStart"):
            m = _WRITE_TARGET.search(ev.get("physicalPlanDescription", ""))
            target = "/".join(m.group(1).rstrip("/").split("/")[-2:]) if m else ""
            info[str(ev["executionId"])] = (ev.get("description", ""), target)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if phase is not None and props.get(PHASE_KEY) != phase:
                continue
            root = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            key = f"s{app}." + (f"sql {root}" if root else f"job {ev['Job ID']}")
            if key not in rows:
                infos = ev.get("Stage Infos") or [{"Stage ID": 0, "Stage Name": "?"}]
                site = max(infos, key=lambda si: si["Stage ID"])["Stage Name"]
                action, target = info.get(root or "", (site.split("\n")[0], ""))
                rows[key] = {"id": key, "action": action, "target": target,
                             "jobs": 0, "tasks": 0}
            rows[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_row.setdefault(sid, rows[key])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_row:
            stage_row[ev["Stage ID"]]["tasks"] += 1
    return list(rows.values())


def print_jobs(path: str, phase: str | None) -> None:
    counts = job_counts(path, phase)
    label = "all phases" if phase is None else f"phase {phase}"
    print(f"{sum(counts.values())} jobs ({label}), by call site <- SQL action:")
    for (site, action), n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:5d}  {site}" + (f"  <-  {action}" if action and action != site else ""))
    print("\nby root SQL execution, in submission order:")
    print("   jobs  tasks  execution  action")
    for r in executions(path, phase):
        target = f"  -> {r['target']}" if r["target"] else ""
        print(f"  {r['jobs']:5d} {r['tasks']:6d}  {r['id']:>12}  {r['action']}{target}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", help="event log file, rolling log dir, or a dir of either")
    ap.add_argument("top_n", nargs="?", type=int, default=25)
    ap.add_argument(
        "--jobs",
        nargs="?",
        const="",
        metavar="PHASE",
        help="print job counts by call site, optionally for one perfbench.phase",
    )
    args = ap.parse_args()
    if args.jobs is not None:
        print_jobs(args.path, args.jobs or None)
        return
    path, top_n = args.path, args.top_n
    stages = {}  # (stage_id, attempt) -> dict
    app_start = app_end = None
    if True:
        for line in _lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"]
            elif e == "SparkListenerApplicationEnd":
                app_end = ev["Timestamp"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                st = stages.setdefault(key, _empty_stage())
                st.update(
                    name=si["Stage Name"].split("\n")[0][:60],
                    tasks=si["Number of Tasks"],
                    submit=sub,
                    complete=comp,
                    wall_s=(comp - sub) / 1000.0 if sub and comp else 0.0,
                )
            elif e == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(key, _empty_stage())
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["shuf_r"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0
                ) + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
                st["shuf_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += m.get("Disk Bytes Spilled", 0)

    done = [s for s in stages.values() if s["submit"]]
    done.sort(key=lambda s: s["submit"])
    total_wall = (app_end - app_start) / 1000.0 if app_start and app_end else 0.0
    covered = 0.0
    last_end = None
    gap = 0.0
    for s in done:
        if last_end is not None and s["submit"] > last_end:
            gap += (s["submit"] - last_end) / 1000.0
        last_end = max(last_end or 0, s["complete"])
        covered += s["wall_s"]

    tot_run = sum(s["run_s"] for s in done)
    tot_cpu = sum(s["cpu_s"] for s in done)
    tot_gc = sum(s["gc_s"] for s in done)
    tot_sw = sum(s["shuf_w"] for s in done)
    tot_sr = sum(s["shuf_r"] for s in done)
    tot_spill = sum(s["spill"] for s in done)
    print(
        f"app_wall={total_wall:.1f}s stages={len(done)} "
        f"sum_stage_wall={covered:.1f}s inter-stage gap~{gap:.1f}s\n"
        f"executor_run={tot_run:.1f}s cpu={tot_cpu:.1f}s gc={tot_gc:.1f}s "
        f"shuffle_write={tot_sw / 1e9:.2f}GB read={tot_sr / 1e9:.2f}GB "
        f"spill={tot_spill / 1e9:.2f}GB"
    )
    done.sort(key=lambda s: s["wall_s"], reverse=True)
    print(f"\ntop {top_n} stages by wall:")
    print("  wall_s  run_s   cpu_s   gc_s  tasks shufW_MB shufR_MB name")
    for s in done[:top_n]:
        print(
            f"  {s['wall_s']:6.1f} {s['run_s']:6.1f} {s['cpu_s']:7.1f} "
            f"{s['gc_s']:6.1f} {s['tasks']:5d} {s['shuf_w'] / 1e6:8.1f} "
            f"{s['shuf_r'] / 1e6:8.1f} {s['name']}"
        )


if __name__ == "__main__":
    main()
