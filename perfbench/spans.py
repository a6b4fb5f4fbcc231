"""Span tracer and per-layer metrics for the benchmark's traced run.

``Tracer.install()`` wraps the public methods of each engine layer, in this
process only, so every call records a span: name, start, end, parent span,
batch id and thread. ``uninstall()`` puts the original methods back, so
untraced calls run the unpatched code. Spans stay in memory until
``write()``.

Spans around lazy calls (``IceliteTable.read``, ``ChangeLogSource.
read_batch``, ``Checkpoint.recent_lsns_df``) time only planning; the work
they describe runs inside the action that consumes them. A span opened on
another thread than the benchmark's (the pipelined prefetch, the overlapped
seen-LSN write) is marked ``overlapped``: its time runs beside the batch, so
it is never subtracted from a parent's self time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from image_report_spark.engine import CdcEngine
from image_report_spark.plans.checkpoint import Checkpoint
from image_report_spark.plans.icelite import IceliteTable
from image_report_spark.sources.changelog import ChangeLogSource

#: (class, method, span name) for every layer boundary the trace times
PATCHES = [
    (ChangeLogSource, "list_batches", "changelog.list"),
    (ChangeLogSource, "read_batch", "changelog.read"),
    (CdcEngine, "run", "engine.run"),
    (CdcEngine, "apply_batch", "engine.apply_batch"),
    (CdcEngine, "read", "engine.read"),
    (CdcEngine, "compact", "engine.compact"),
    (IceliteTable, "snapshot", "icelite.snapshot"),
    (IceliteTable, "read", "icelite.read"),
    (IceliteTable, "write_partition_files", "icelite.write_files"),
    (IceliteTable, "commit", "icelite.commit"),
    (IceliteTable, "expire_snapshots", "icelite.expire"),
    (Checkpoint, "is_applied", "checkpoint.is_applied"),
    (Checkpoint, "recent_lsns_df", "checkpoint.recent_lsns"),
    (Checkpoint, "write_seen_lsns", "checkpoint.write_seen"),
    (Checkpoint, "mark_committed", "checkpoint.mark"),
]

#: ``BatchReport.phase_ms`` keys → per-layer metric names
PHASES = {
    "prepass": "prepass", "plan": "plan", "write+merge": "write_merge",
    "partstats": "partstats", "commit+seen": "commit_seen",
    "classify": "classify", "write+delta": "write_delta",
}

#: per-batch span totals reported as ``<span name>_s``
PER_BATCH_SPANS = [
    "changelog.list", "changelog.read", "icelite.snapshot", "icelite.write_files",
    "icelite.commit", "checkpoint.is_applied", "checkpoint.recent_lsns",
    "checkpoint.write_seen", "checkpoint.mark",
]

#: reconciliation tolerance between Σ phase_ms and the apply_batch span:
#: phase_ms truncates each phase to whole milliseconds
PHASE_GAP_REL = 0.05
PHASE_GAP_ABS_S = 0.02


def _footer_totals(paths: list[str]) -> tuple[int, int]:
    """(rows, bytes) of parquet files, from their footers."""
    rows = size = 0
    for path in paths:
        rows += pq.ParquetFile(path).metadata.num_rows
        size += os.path.getsize(path)
    return rows, size


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        #: counters keyed by span id, taken at layer boundaries
        self.counts: dict[int, dict] = {}
        #: the batch being applied, stamped on every span
        self.batch: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._saved: list[tuple[type, str, object]] = []

    # ------------------------------------------------------------- patching
    def install(self) -> None:
        for cls, meth, name in PATCHES:
            orig = cls.__dict__[meth]
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, name))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": 0,
            "name": name,
            "parent": stack[-1] if stack else None,
            "batch": self.batch,
            "thread": threading.get_ident(),
            "overlapped": threading.get_ident() != self._main,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def _wrap(self, fn, name: str):
        after = getattr(self, "_after_" + name.replace(".", "_"), None)

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            if name == "engine.apply_batch":
                self.batch = kwargs.get("batch_id", args[1] if len(args) > 1 else None)
            with self.span(name) as rec:
                out = fn(obj, *args, **kwargs)
            if after is not None:
                self.counts[rec["id"]] = after(obj, args, kwargs, out)
            return out

        return traced

    # ---------------------------------------------- counters at boundaries
    # These run after the span has closed, on the calling thread; on the
    # engine's thread their cost lands in the parent's self time, which is
    # part of the tracing overhead the traced run reports.
    def _after_icelite_write_files(self, table, args, kwargs, out):
        files = [os.path.join(table.root, f) for fl in out.values() for f in fl]
        rows, size = _footer_totals(files)
        return {"rows_written": rows, "bytes_written": size}

    def _after_icelite_commit(self, table, args, kwargs, sid):
        return {"manifest_bytes": os.path.getsize(os.path.join(table.meta_dir, f"v{sid}.json"))}

    def _after_icelite_expire(self, table, args, kwargs, deleted):
        return {"files_expired": deleted}

    def _after_checkpoint_recent_lsns(self, cp, args, kwargs, out):
        batch_id = kwargs.get("batch_id", args[0] if args else None)
        paths = []
        for name in os.listdir(cp.recent_dir):
            if name.startswith("batch-") and batch_id - cp.window < int(name[6:11]) < batch_id:
                d = os.path.join(cp.recent_dir, name)
                paths += [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        return {"seen_lsn_rows": _footer_totals(paths)[0]}

    # ---------------------------------------------------------------- views
    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it its same-thread children cover.
        Children on one thread run one after another, so their durations
        add up to that part."""
        kids = self.children(span["id"])
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def nesting_errors(self) -> int:
        """Spans outside their parent's interval, or overlapping an earlier
        sibling: either would make self time wrong."""
        by_id = {s["id"]: s for s in self.spans}
        bad = 0
        last_end: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is None:
                continue
            p = by_id[s["parent"]]
            if s["start"] < max(p["start"], last_end.get(p["id"], p["start"])) or s["end"] > p["end"]:
                bad += 1
            last_end[p["id"]] = s["end"]
        return bad

    def write(self, path: str, t0: float) -> None:
        """Spans as JSON lines, times in seconds from ``t0`` (a
        ``time.perf_counter()`` reading), counters merged in."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
                rec.update(self.counts.get(s["id"], {}))
                f.write(json.dumps(rec) + "\n")


def layer_metrics(tracer: Tracer, stream_spans: int, per_batch: dict, calls: list,
                  layout: dict, cow: bool, check) -> dict:
    """Per-layer metrics of the traced run, as ``name -> (value, unit)``.

    ``stream_spans`` splits ``tracer.spans`` into the stream (before) and
    the end-of-stream maintenance (after). Per-batch figures are means over
    the batches whose ``run()`` call was traced. ``check(ok, what)`` records
    the reconciliation checks."""
    by_id = {s["id"]: s for s in tracer.spans}

    def root(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    # the layer calls inside run(): the reader queries call into icelite
    # too, and spans on other threads are only ever opened inside run()
    stream = [s for s in tracer.spans[:stream_spans] if s["overlapped"] or root(s)["name"] == "engine.run"]
    maint = tracer.spans[stream_spans:]
    traced = [c for c in calls if c["traced"]]
    plain = [c for c in calls if not c["traced"]]
    batch_ids = [b for c in traced for b in c["batches"]]
    nb = max(len(batch_ids), 1)
    reports = [per_batch[b]["report"] for b in batch_ids]
    applies = {s["batch"]: s for s in stream if s["name"] == "engine.apply_batch"}

    def dur(s):
        return s["end"] - s["start"]

    def total(spans, name):
        return sum(dur(s) for s in spans if s["name"] == name)

    def count(spans, name, key):
        return sum(tracer.counts.get(s["id"], {}).get(key, 0) for s in spans if s["name"] == name)

    def per_batch_mean(fn):
        return sum(fn(b) for b in batch_ids) / nb

    m: dict[str, tuple[float, str]] = {}
    # engine
    m["engine.apply_s"] = (per_batch_mean(lambda b: dur(applies[b])), "s")
    m["engine.self_s"] = (per_batch_mean(lambda b: tracer.self_time(applies[b])), "s")
    for key, name in PHASES.items():
        m[f"engine.phase.{name}_s"] = (sum(r.phase_ms.get(key, 0) for r in reports) / 1000 / nb, "s")
    m["engine.queue_wait_s"] = (per_batch_mean(
        lambda b: per_batch[b]["committed"] - per_batch[b]["landed"] - dur(applies[b])), "s")
    touched = sum(r.partitions_touched for r in reports)
    appended = sum(r.partitions_appended for r in reports)
    carried = sum(r.partitions_carried for r in reports)
    m["engine.partitions_touched"] = (touched / nb, "count")
    m["engine.partitions_rewritten"] = ((touched - appended - carried) / nb if cow else 0.0, "count")
    m["engine.partitions_appended"] = (appended / nb, "count")
    m["engine.partitions_carried"] = (carried / nb, "count")
    m["engine.events_deduped"] = (sum(r.deduped for r in reports) / nb, "count")
    rows_written = count(stream, "icelite.write_files", "rows_written")
    useful = sum(r.inserts + r.updates + r.deletes for r in reports)
    m["engine.useful_write_ratio"] = (useful / max(rows_written, 1), "ratio")
    m["engine.compact_s"] = (total(maint, "engine.compact"), "s")
    # icelite, checkpoint, changelog: span time per batch
    for name in PER_BATCH_SPANS:
        m[f"{name}_s"] = (total(stream, name) / nb, "s")
    m["icelite.bytes_written"] = (count(stream, "icelite.write_files", "bytes_written") / nb, "B")
    commits = [s for s in stream if s["name"] == "icelite.commit"]
    m["icelite.manifest_bytes"] = (
        statistics.mean(tracer.counts[s["id"]]["manifest_bytes"] for s in commits) if commits else 0.0, "B")
    reads = [s for s in tracer.spans if s["name"] == "icelite.read"]
    m["icelite.read_s"] = (statistics.median(dur(s) for s in reads) if reads else 0.0, "s")
    actions = [s for s in tracer.spans if s["name"] == "reader.action"]
    m["spark.reader_action_s"] = (statistics.median(dur(s) for s in actions) if actions else 0.0, "s")
    m["icelite.files_per_partition_max"] = (layout["files_per_partition_max"], "count")
    m["icelite.delta_bytes_ratio"] = (layout["delta_bytes_ratio"], "ratio")
    m["icelite.expire_s"] = (total(maint, "icelite.expire"), "s")
    m["icelite.files_expired"] = (count(maint, "icelite.expire", "files_expired"), "count")
    m["checkpoint.seen_lsn_rows"] = (count(stream, "checkpoint.recent_lsns", "seen_lsn_rows") / nb, "count")
    # spark runtime
    m["spark.jobs_per_batch"] = (sum(c["jobs"] for c in traced) / nb, "count")
    m["spark.tasks_per_batch"] = (sum(c["tasks"] for c in traced) / nb, "count")

    # reconciliation, per traced batch
    gaps = []
    for b in batch_ids:
        s = applies[b]
        phases = sum(per_batch[b]["report"].phase_ms.values()) / 1000
        gap = abs(phases - dur(s))
        gaps.append(gap / dur(s))
        check(gap <= PHASE_GAP_REL * dur(s) + PHASE_GAP_ABS_S,
              f"batch {b}: sum(phase_ms) {phases:.3f}s vs apply_batch span {dur(s):.3f}s")
    # with every child inside its parent and siblings disjoint, self time
    # plus the same-thread children equals each span exactly
    check(tracer.nesting_errors() == 0, "spans nest inside their parents")
    m["trace.phase_gap_max"] = (max(gaps) if gaps else 0.0, "ratio")

    # overhead: traced against unpatched run() calls of the same run
    rate = median_rate(traced)
    m["trace.apply_events_per_s"] = (rate, "1/s")
    m["trace.overhead"] = (1 - rate / median_rate(plain) if plain else 0.0, "ratio")
    return m


def median_rate(calls: list[dict]) -> float:
    """Median over ``run()`` calls of events applied per wall second: a
    stall of the host that covers a few calls moves it less than a sum."""
    return statistics.median(c["events"] / c["wall"] for c in calls)
