#!/usr/bin/env python3
"""Per-job, per-stage report from a Spark event log.

One row per job and per stage: tasks, wall, summed executor run, CPU and
deserialize time, JVM GC, records read and written, and shuffle bytes read
and written. Stages are labelled with their query's description (the
Python call site for collects) and the operator chain of their RDDs, so a
stage is recognisable without the UI: the COW merge write is the stage
whose chain is ``ShuffleRead > ... > Window > CollectMetrics > WriteFiles``.

Reads Spark's rolling event logs (a ``eventlog_v2_*`` directory of
``events_<n>_*`` files, zstd-compressed or plain) and single-file logs in
plain JSON lines or ``.zstd``; a directory holding exactly one
``eventlog_v2_*`` (a ``spark.eventLog.dir``) works too.

    python3 tools/stage_report.py LOG
    python3 tools/stage_report.py --diff A B

``--diff`` groups the stages of each log by label (description with paths
and line numbers stripped, plus the operator chain) and prints, per label,
the number of stages, their task counts and summed times on each side.
Descriptions are Spark's own: with several driver threads, PySpark can
stamp one thread's Python call site on another thread's action (a write
labelled ``collect at engine.py``), so the same stage may show under two
labels; the operator chain is reliable.

Capturing a log without touching the program that runs Spark: put

    spark.eventLog.enabled true
    spark.eventLog.dir file:///abs/path/to/logs

in a ``spark-defaults.conf`` inside a directory of your own and export
``SPARK_CONF_DIR`` to that directory before starting the program
(``spark-submit`` reads it when PySpark launches the JVM).
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import re
import statistics
import sys
from collections import defaultdict


def _open_events(path: str) -> io.TextIOBase:
    if path.endswith((".zstd", ".zst")):
        import pyarrow as pa

        return io.TextIOWrapper(pa.CompressedInputStream(path, "zstd"), encoding="utf-8")
    return open(path, encoding="utf-8")


def _event_files(path: str) -> list[str]:
    """The event files of one application log, in write order."""
    if not os.path.isdir(path):
        return [path]
    if not os.path.basename(os.path.normpath(path)).startswith("eventlog_v2_"):
        apps = sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
        if len(apps) != 1:
            raise SystemExit(
                f"{path}: expected one eventlog_v2_* directory, found {len(apps)}"
            )
        path = apps[0]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(name))
        return int(m.group(1)) if m else 0

    files = sorted(glob.glob(os.path.join(path, "events_*")), key=index)
    if not files:
        raise SystemExit(f"{path}: no events_* files")
    return files


def read_events(path: str):
    for f in _event_files(path):
        with _open_events(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    # a log still being written (or cut) ends mid-line
                    break


def _chain(stage_info: dict) -> str:
    """Operator chain of a stage: its RDDs' scope names in creation order,
    without whole-stage-codegen ids. A stage that starts by reading a
    shuffle starts with ``ShuffleRead`` whether AQE wrapped the read
    (``AQEShuffleRead``) or not (``Exchange``), so a coalesced and an
    uncoalesced run of the same stage share a label."""
    names: list[str] = []
    for r in sorted(stage_info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
        scope = r.get("Scope")
        name = json.loads(scope)["name"] if scope else r["Name"]
        name = re.sub(r"\s*\(\d+\)$", "", name).strip()
        if not names and name in ("AQEShuffleRead", "Exchange"):
            name = "ShuffleRead"
        if name not in names:
            names.append(name)
    return " > ".join(names)


def _short(description: str) -> str:
    """``collect at /a/b/engine.py:513`` → ``collect at engine.py``; a JVM
    call site (``parquet at NativeMethodAccessorImpl.java:0``, or
    ``<unknown>`` from a Python thread) keeps only the action."""
    action, _, site = description.partition(" at ")
    site = os.path.basename(site).rsplit(":", 1)[0]
    return f"{action} at {site}" if site.endswith(".py") else action


def load(path: str) -> list[dict]:
    """Jobs in submission order, each with its stages (the stages it ran;
    AQE re-lists materialized stages as skipped in later jobs)."""
    jobs: dict[int, dict] = {}
    sql_desc: dict[str, str] = {}
    stages: dict[tuple, dict] = {}
    stage_job: dict[int, int] = {}
    for e in read_events(path):
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            sql_desc[str(e.get("executionId"))] = e.get("description", "")
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            desc = sql_desc.get(
                str(props.get("spark.sql.execution.id")),
                props.get("callSite.short", ""),
            )
            jobs[jid] = {
                "job": jid,
                "desc": desc,
                "start": e.get("Submission Time"),
                "end": None,
                "stages": [],
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            m = e.get("Task Metrics") or {}
            st = stages.setdefault(key, defaultdict(int))
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            st["deser_ms"] += m.get("Executor Deserialize Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["rec_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            st["rec_read"] += sr.get("Total Records Read", 0)
            st["rec_written"] += (m.get("Output Metrics") or {}).get(
                "Records Written", 0
            )
            st["rec_written"] += sw.get("Shuffle Records Written", 0)
            st["shuf_read_B"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["shuf_write_B"] += sw.get("Shuffle Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, defaultdict(int))
            st.update(
                stage=si["Stage ID"],
                tasks=si.get("Number of Tasks", 0),
                wall_ms=(si.get("Completion Time") or 0)
                - (si.get("Submission Time") or 0),
                chain=_chain(si),
            )
            jid = stage_job.get(si["Stage ID"])
            if jid in jobs:
                jobs[jid]["stages"].append(st)
    return [jobs[j] for j in sorted(jobs)]


COLS = [
    "tasks", "wall_ms", "run_ms", "cpu_ms", "deser_ms", "gc_ms",
    "rec_read", "rec_written", "shuf_read_B", "shuf_write_B",
]


def _row(cells: list, widths: list[int]) -> str:
    return "  ".join(str(c).rjust(w) for c, w in zip(cells, widths))


def report(path: str, out=sys.stdout) -> None:
    widths = [8, 6] + [max(len(k), 9) for k in COLS]
    print(_row(["job", "stage"] + COLS, widths) + "  label", file=out)
    for j in load(path):
        tot = defaultdict(float)
        for st in j["stages"]:
            for k in COLS:
                tot[k] += st.get(k, 0)
        wall = (j["end"] or 0) - (j["start"] or 0)
        cells = [j["job"], ""] + [
            wall if k == "wall_ms" else int(round(tot[k])) for k in COLS
        ]
        print(_row(cells, widths) + f"  {j['desc']}", file=out)
        for st in j["stages"]:
            cells = ["", st["stage"]] + [int(round(st.get(k, 0))) for k in COLS]
            print(_row(cells, widths) + f"    {st['chain']}", file=out)


def _groups(path: str) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for j in load(path):
        for st in j["stages"]:
            out[f"{_short(j['desc'])} | {st['chain']}"].append(st)
    return out


def _tasks(sts: list[dict]) -> str:
    if not sts:
        return "-"
    t = [st["tasks"] for st in sts]
    lo, hi = min(t), max(t)
    med = statistics.median(t)
    med = int(med) if med == int(med) else med
    return f"{med}" if lo == hi else f"{med} [{lo}-{hi}]"


def diff(a: str, b: str, out=sys.stdout) -> None:
    ga, gb = _groups(a), _groups(b)
    keys = sorted(
        set(ga) | set(gb),
        key=lambda k: -max(
            sum(s["wall_ms"] for s in ga.get(k, [])),
            sum(s["wall_ms"] for s in gb.get(k, [])),
        ),
    )
    hdr = ["stages", "tasks/stage", "wall_ms", "run_ms", "cpu_ms", "deser_ms", "gc_ms"]
    widths = [max(len(h), 7) for h in hdr]
    print("per label: A / B", file=out)
    print(_row(hdr, [w * 2 + 3 for w in widths]) + "  label", file=out)

    def pair(x, y, w):
        return f"{x:>{w}} / {y:<{w}}"

    for k in keys:
        sa, sb = ga.get(k, []), gb.get(k, [])
        cells = [
            pair(len(sa), len(sb), widths[0]),
            pair(_tasks(sa), _tasks(sb), widths[1]),
        ]
        for i, f in enumerate(["wall_ms", "run_ms", "cpu_ms", "deser_ms", "gc_ms"]):
            cells.append(
                pair(
                    int(round(sum(s.get(f, 0) for s in sa))),
                    int(round(sum(s.get(f, 0) for s in sb))),
                    widths[i + 2],
                )
            )
        print("  ".join(cells) + f"  {k}", file=out)
    for name, g in (("A", ga), ("B", gb)):
        sts = [s for v in g.values() for s in v]
        print(
            f"total {name}: {len(sts)} stages, "
            f"{sum(s['tasks'] for s in sts)} tasks, "
            f"{sum(s['wall_ms'] for s in sts)} ms stage wall, "
            f"{int(sum(s.get('cpu_ms', 0) for s in sts))} ms task CPU",
            file=out,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", nargs="?", help="event log file or directory")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"), help="compare two logs")
    args = ap.parse_args(argv)
    if args.diff:
        diff(*args.diff)
    elif args.log:
        report(args.log)
    else:
        ap.error("give a LOG or --diff A B")
    return 0


if __name__ == "__main__":
    sys.exit(main())
