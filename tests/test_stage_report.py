"""tools/stage_report.py on a small synthetic Spark event log, in both
encodings Spark writes: plain JSON lines and a rolling ``eventlog_v2_*``
directory of zstd files."""

from __future__ import annotations

import io
import json
import os
import sys

import pyarrow as pa

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import stage_report  # noqa: E402


def _rdd(rid, scope_name):
    return {"RDD ID": rid, "Name": "MapPartitionsRDD",
            "Scope": json.dumps({"id": str(rid), "name": scope_name})}


def _task(stage, run, cpu_ns, deser, gc, rec_in, shuf_w_b, shuf_w_rec,
          shuf_r_b=0, shuf_r_rec=0, rec_out=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": deser, "JVM GC Time": gc,
            "Input Metrics": {"Bytes Read": 0, "Records Read": rec_in},
            "Output Metrics": {"Bytes Written": 0, "Records Written": rec_out},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuf_r_b,
                                     "Total Records Read": shuf_r_rec},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuf_w_b,
                                      "Shuffle Records Written": shuf_w_rec},
        },
    }


def _log(write_tasks: int) -> list[dict]:
    """One write query: a map stage (job 0, 2 tasks) and a write stage
    (job 1, ``write_tasks`` tasks) behind an AQE-style skipped re-listing."""
    map_chain = [_rdd(1, "Scan parquet "), _rdd(2, "WholeStageCodegen (1)"),
                 _rdd(3, "Exchange")]
    write_chain = [_rdd(5, "AQEShuffleRead" if write_tasks == 1 else "Exchange"),
                   _rdd(6, "WholeStageCodegen (2)"), _rdd(7, "Window"),
                   _rdd(8, "WriteFiles")]
    ev = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "description": "parquet at NativeMethodAccessorImpl.java:0"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "3"}},
        _task(0, 100, 80_000_000, 10, 5, 50, 400, 50),
        _task(0, 120, 90_000_000, 12, 0, 70, 600, 70),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Number of Tasks": 2,
            "Submission Time": 1000, "Completion Time": 1200,
            "RDD Info": map_chain}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1210},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1300,
         "Stage IDs": [0, 1], "Properties": {"spark.sql.execution.id": "3"}},
    ]
    for _ in range(write_tasks):
        ev.append(_task(1, 300 // write_tasks, 200_000_000 // write_tasks, 20, 0, 0,
                        0, 0, shuf_r_b=1000 // write_tasks,
                        shuf_r_rec=120 // write_tasks, rec_out=120 // write_tasks))
    ev += [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Number of Tasks": write_tasks,
            "Submission Time": 1300, "Completion Time": 1300 + 400 // write_tasks,
            "RDD Info": write_chain}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1310 + 400 // write_tasks},
    ]
    return ev


def _lines(events) -> bytes:
    return "".join(json.dumps(e) + "\n" for e in events).encode()


def _zstd_app(root, events) -> str:
    d = root / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    data = _lines(events)
    half = data.index(b"\n", len(data) // 2) + 1  # a rolled log: two files
    for i, part in enumerate((data[:half], data[half:]), start=1):
        with pa.CompressedOutputStream(str(d / f"events_{i}_local-1.zstd"), "zstd") as f:
            f.write(part)
    (d / "appstatus_local-1").write_bytes(b"")
    return str(root)


def test_report_plain_and_rolling_zstd_agree(tmp_path):
    plain = tmp_path / "plain.json"
    plain.write_bytes(_lines(_log(1)))
    zdir = _zstd_app(tmp_path / "z", _log(1))
    jobs = stage_report.load(str(plain))
    assert jobs == stage_report.load(zdir)

    assert [j["job"] for j in jobs] == [0, 1]
    # AQE's skipped re-listing of stage 0 stays with the job that ran it
    assert [s["stage"] for s in jobs[0]["stages"]] == [0]
    assert [s["stage"] for s in jobs[1]["stages"]] == [1]
    m = jobs[0]["stages"][0]
    assert (m["tasks"], m["wall_ms"], m["run_ms"], m["deser_ms"], m["gc_ms"]) == (
        2, 200, 220, 22, 5)
    assert m["cpu_ms"] == 170
    assert (m["rec_read"], m["rec_written"], m["shuf_write_B"]) == (120, 120, 1000)
    assert m["chain"] == "Scan parquet > WholeStageCodegen > Exchange"
    w = jobs[1]["stages"][0]
    assert (w["rec_read"], w["rec_written"], w["shuf_read_B"]) == (120, 120, 1000)
    assert w["chain"] == "ShuffleRead > WholeStageCodegen > Window > WriteFiles"

    out = io.StringIO()
    stage_report.report(zdir, out=out)
    rows = out.getvalue().splitlines()
    assert rows[0].split()[:4] == ["job", "stage", "tasks", "wall_ms"]
    job1 = rows[3].split()
    assert job1[:3] == ["1", "1", "410"]  # job row: id, tasks, job wall
    assert "parquet at NativeMethodAccessorImpl.java:0" in rows[3]


def test_diff_matches_stages_by_label(tmp_path):
    a = tmp_path / "a.json"
    a.write_bytes(_lines(_log(1)))
    b = _zstd_app(tmp_path / "b", _log(8))
    out = io.StringIO()
    stage_report.diff(str(a), b, out=out)
    text = out.getvalue()
    write = next(ln for ln in text.splitlines() if "Window > WriteFiles" in ln)
    # one label for both sides: 1 write task before, 8 after
    assert write.split()[:6] == ["1", "/", "1", "1", "/", "8"]
    assert write.rstrip().endswith(
        "parquet | ShuffleRead > WholeStageCodegen > Window > WriteFiles")
    assert "total A: 2 stages, 3 tasks" in text
    assert "total B: 2 stages, 10 tasks" in text
