"""CDC ingest benchmark for the image_report_spark engine.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 26 --trace 0

Runs one workload against the engine's public API on Spark ``local[4]`` (or
fewer threads on a smaller host) from this one process, checks every output
against a last-writer-wins reference, and prints as its last stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace
0`` the metrics are the end-to-end metrics; with ``--trace 1`` the engine's
layers are wrapped by ``perfbench/spans.py`` and the metrics are per layer.
The lines before it give every metric with its unit, median, tail percentile
and sample count. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
sys.path.insert(0, ROOT)

from perfbench.gen import ChangeStream, land_batch, reference_table, table_mismatches  # noqa: E402

#: env knobs the engine reads (config.py, icelite.py, engine.py); cleared
#: before anything is imported, so a stray variable cannot change what is
#: measured
ENV_PREFIXES = ("SPARK_GRAFT_", "IRS_")


@dataclasses.dataclass(frozen=True)
class Workload:
    write_mode: str
    #: rows inserted before the stream, in setup
    preload: int
    #: fresh events per batch
    batch: int
    #: batches landed before each ``run()`` call (1 = a caught-up tail)
    queue: int
    update: float = 0.0
    delete: float = 0.0
    late: float = 0.0
    redeliver: float = 0.0
    sorted_keys: bool = False
    #: the queue position of an all-update batch; every other batch of the
    #: queue is all inserts (None: every batch carries the mix above)
    update_pos: int | None = None
    #: run the reader query after every commit, not only after the stream
    scan_every_commit: bool = False
    #: nominal wall seconds of one ``run()`` call (and its reader query) on
    #: a 4-core host: ``--seconds`` divided by it fixes how many calls a run
    #: makes, so every run of a seed applies the same batches
    call_s: float = 1.0


WORKLOADS = {
    # a caught-up COW tail: every batch touches every bucket, so the rewrite
    # and the fixed per-batch cost dominate; 2% of each batch is re-sent. The
    # reader query follows every commit, so its samples span the whole stream
    # rather than a few seconds after it
    "tail_cow": Workload(
        "cow", preload=20_000, batch=3_000, queue=1,
        update=0.25, delete=0.05, late=0.05, redeliver=0.02,
        scan_every_commit=True, call_s=2.0,
    ),
    # catch-up after downtime: 8 queued key-ordered batches drained by one
    # run(); 7 of 8 are pure inserts, which take the append fast-path, and
    # the update batch sits mid-queue, so appended small files are still
    # there when the stream ends
    "backlog_append": Workload(
        "cow", preload=20_000, batch=2_000, queue=8,
        update=1.0, sorted_keys=True, update_pos=3, call_s=12.0,
    ),
    # an update-heavy merge-on-read tail with a read after every commit
    "tail_mor_read": Workload(
        "mor", preload=20_000, batch=3_000, queue=1,
        update=0.5, delete=0.1, late=0.05, scan_every_commit=True, call_s=3.0,
    ),
}

BUCKETS = 16
TURNS = 20
#: set-up repetitions; setup_s reports their median
SETUP_REPS = 3
#: reader-query repetitions after the stream (workloads without
#: ``scan_every_commit``)
SCANS_AFTER = 12
#: untimed reader queries before those
SCANS_UNTIMED = 5
#: end-of-stream maintenance runs on this many copies of the table, then
#: on the table itself; maintenance_s reports their median
MAINT_COPIES = 1
#: end-to-end metrics printed but left out of the JSON result: on the COW
#: workloads compact() has nothing to fold and maintenance is ~20 ms of file
#: deletes whose run-to-run spread exceeds any bound a gate could hold
REPORT_ONLY = ("maintenance_s",)
WARMUP_PRELOAD = 4_000
WARMUP_BATCHES = 2
WARMUP_SCANS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def p75(values: list[float]) -> float:
    """The 75th percentile, interpolated between samples."""
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def files_under(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


class Run:
    """One benchmark run: a Spark session, one workload, its checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}

    # --------------------------------------------------------- bookkeeping
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# CHECK FAILED: {what}", file=sys.stderr)

    def op(self, fn, *args):
        """Run one engine operation, counting it; an exception is a failure
        and ends the run."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.failures.append(f"{getattr(fn, '__name__', fn)} raised")
            raise

    # --------------------------------------------------------------- spark
    def start_spark(self):
        from pyspark.sql import SparkSession

        cores = min(4, len(os.sched_getaffinity(0)))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark_conf = {
            "spark.master": f"local[{cores}]",
            "spark.driver.memory": "2g",
            # -XX:-UsePerfData: no /tmp/hsperfdata_* file
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.shuffle.partitions": str(2 * cores),
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.python.sql.dataFrameDebugging.enabled": "false",
            "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        # the JVM that spark-submit runs to build the driver's command line
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        b = SparkSession.builder.appName("perfbench")
        for k, v in self.spark_conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cores = cores

    def stop_spark(self):
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # ------------------------------------------------------------- engine
    def config(self):
        from image_report_spark.config import EngineConfig

        # every field the engine would take from the environment is given
        # here explicitly
        return EngineConfig(
            num_buckets=BUCKETS,
            shuffle_partitions=2 * self.cores,
            write_mode=self.wl.write_mode,
            rowhash_mode="typed",
            cow_two_stream=True,
            merge_exact_shards=False,
        )

    def new_engine(self, name: str):
        from image_report_spark.engine import CdcEngine

        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "log"))
        eng = CdcEngine.init(
            self.spark, os.path.join(root, "table"), os.path.join(root, "cp"),
            config=self.config(),
        )
        return eng, os.path.join(root, "log")

    def scan(self, eng, tracer=None) -> tuple[int, int]:
        """The fixed reader query: per-conv_id aggregate, then a count."""
        from pyspark.sql import functions as F

        per_conv = eng.read().groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts")
        )
        q = per_conv.agg(F.count(F.lit(1)).alias("convs"), F.sum("n").alias("rows"))
        with tracer.span("reader.action") if tracer else contextlib.nullcontext():
            row = q.collect()[0]
        return int(row["convs"]), int(row["rows"] or 0)

    def next_batches(self, stream, positions, size: int):
        """The stream's next batches of ``size`` events, one per queue
        position (``update_pos`` picks the update batch)."""
        wl = self.wl
        if wl.update_pos is not None:
            return [stream.batch(size, update=wl.update if j == wl.update_pos else 0.0) for j in positions]
        return [
            stream.batch(size, update=wl.update, delete=wl.delete, late=wl.late, redeliver=wl.redeliver)
            for _ in positions
        ]

    def setup_table(self, name: str, seed: int, preload: int):
        """A fresh table holding ``preload`` rows: generate, land, apply
        (and, for MOR, compact so the stream starts from clean base files)."""
        stream = ChangeStream(seed, turns=TURNS, sorted_keys=self.wl.sorted_keys)
        eng, log = self.new_engine(name)
        first, _ = stream.batch(preload)
        land_batch(first, log, 0)
        reports = self.op(eng.run, log)
        self.check(len(reports) == 1 and reports[0].conservation_ok(), f"{name}: preload ledger")
        if self.wl.write_mode == "mor":
            self.op(eng.compact)
        return eng, log, stream, [first]

    def warmup(self):
        """A throwaway pass of the workload's own shape (bucket count, write
        mode, queue, mix), so that JIT compilation of the per-batch code
        paths happens before the clock starts: ``WARMUP_BATCHES`` batches
        (for a queue, one call that drains inserts and the update batch),
        reader queries, one compaction."""
        eng, log, stream, _ = self.setup_table("warmup", self.args.seed + 1_000_003, WARMUP_PRELOAD)
        wl = self.wl
        last = wl.update_pos if wl.update_pos is not None else WARMUP_BATCHES - 1
        positions = range(last + 1 - WARMUP_BATCHES, last + 1)
        bid = 1
        for group in [positions] if wl.queue > 1 else [[j] for j in positions]:
            for df, _ in self.next_batches(stream, group, wl.batch):
                land_batch(df, log, bid)
                bid += 1
            reports = [r for r in self.op(eng.run, log) if not r.skipped]
            self.check(len(reports) == len(group) and all(r.conservation_ok() for r in reports), "warmup ledger")
        for _ in range(WARMUP_SCANS):
            got = self.op(self.scan, eng)
            self.check(got == (stream.live_convs(), stream.live_rows()), "warmup reader query result")
        self.op(eng.compact)
        self.op(eng.table.expire_snapshots, 1)
        shutil.rmtree(os.path.join(self.work, "warmup"))

    # ---------------------------------------------------------------- main
    def execute(self) -> dict:
        from perfbench.spans import median_rate

        args, wl = self.args, self.wl
        self.start_spark()
        session_s = time.perf_counter() - T_START
        t = time.perf_counter()
        self.warmup()
        warm_s = time.perf_counter() - t
        rep_s = []

        def setup_rep():
            t = time.perf_counter()
            made = self.setup_table(f"table{len(rep_s)}", args.seed, wl.preload)
            rep_s.append(time.perf_counter() - t)
            return made

        def setups_after(done: int):
            """The other set-ups (throwaway tables) run between the timed
            operations, so that those samples spread over more of the run."""
            for _ in range(rep_at.count(done)):
                setup_rep()
                shutil.rmtree(os.path.join(self.work, f"table{len(rep_s) - 1}"))

        eng, log, stream, history = setup_rep()

        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer()
            seen_jobs = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

        table_data = os.path.join(eng.table.root, "data")
        before = files_under(table_data)
        per_batch: dict[int, dict] = {}
        calls: list[dict] = []
        scans: list[float] = []
        redelivered = 0
        bid = 1
        # a traced run alternates traced and unpatched run() calls, so it
        # makes at least one of each
        n_calls = max(2, int(args.seconds // wl.call_s))
        n_scans_after = 0 if wl.scan_every_commit else SCANS_AFTER
        # timed operations (calls, then reader queries) after which a set-up runs
        rep_at = [round(k * (n_calls + n_scans_after) / SETUP_REPS) for k in range(1, SETUP_REPS)]
        while len(calls) < n_calls:
            batch_ids = []
            for df, resent in self.next_batches(stream, range(wl.queue), wl.batch):
                land_batch(df, log, bid)
                per_batch[bid] = {"events": len(df), "landed": time.time()}
                history.append(df)
                redelivered += resent
                batch_ids.append(bid)
                bid += 1
            traced = tracer is not None and len(calls) % 2 == 0
            if traced:
                spark_delta(self.spark, seen_jobs)  # jobs since the last traced call
                tracer.install()
            t = time.perf_counter()
            try:
                reports = [r for r in self.op(eng.run, log) if not r.skipped]
            finally:
                wall = time.perf_counter() - t
                if traced:
                    tracer.uninstall()
            call = {"traced": traced, "wall": wall, "batches": batch_ids,
                    "events": sum(per_batch[b]["events"] for b in batch_ids)}
            if traced:
                call["jobs"], call["tasks"] = spark_delta(self.spark, seen_jobs)
            calls.append(call)
            self.check([r.batch_id for r in reports] == batch_ids, "run() applied the landed batches")
            for r in reports:
                marker = os.path.join(eng.checkpoint.batches_dir, f"batch-{r.batch_id:05d}.json")
                per_batch[r.batch_id].update(report=r, committed=os.stat(marker).st_mtime)
                self.check(r.conservation_ok(), f"batch {r.batch_id} conservation")
            if wl.scan_every_commit:
                self.timed_scan(eng, stream, scans, tracer if traced else None)
            setups_after(len(calls))
        n_events = sum(pb["events"] for pb in per_batch.values())
        latencies = [pb["committed"] - pb["landed"] for pb in per_batch.values()]
        written = sum(size for p, size in files_under(table_data).items() if p not in before)

        # the first reads of the final layout run slower and then drift down
        # for several more, so a few go untimed
        for _ in range(SCANS_UNTIMED if n_scans_after else 0):
            self.timed_scan(eng, stream, [], None)
        for i in range(n_scans_after):
            self.timed_scan(eng, stream, scans, tracer)
            setups_after(n_calls + i + 1)
        setup_s = session_s + warm_s + statistics.median(rep_s)
        self.info["setup"] = {"session_s": session_s, "warmup_s": warm_s, "preload_reps_s": rep_s}
        snap = eng.table.snapshot()
        live_rows = stream.live_rows()
        table_bytes = sum(
            os.path.getsize(os.path.join(eng.table.root, f))
            for e in snap["manifest"] for f in e["files"] + (e.get("delta_files") or [])
        )
        layout = layout_stats(eng.table.root, snap)

        # maintenance: the same end-of-stream table, copied, is maintained
        # MAINT_COPIES times and then itself, and the median is reported
        maint = []
        for i in range(MAINT_COPIES):
            copy = self.copy_engine(eng, f"maint{i}")
            maint.append(self.maintain(copy, None)[0])
            shutil.rmtree(os.path.join(self.work, f"maint{i}"))
        stream_spans = len(tracer.spans) if tracer else 0
        t, expired = self.maintain(eng, tracer)
        maint.append(t)
        maintenance_s = statistics.median(maint)

        # correctness: the ledger, the dedup count and every live row
        deduped = sum(pb["report"].deduped for pb in per_batch.values())
        self.check(deduped == redelivered, f"deduped {deduped} == redelivered {redelivered}")
        got = eng.read().toPandas()
        bad = table_mismatches(got, reference_table(history))
        self.check(bad == 0, f"final table: {bad} rows differ from the reference")
        self.check(len(got) == live_rows, "final live row count")

        self.info["stream"] = {
            "batches": len(per_batch), "run_calls": len(calls), "events": n_events,
            "redelivered": redelivered, "deduped": deduped, "live_rows": live_rows,
            "files_expired": expired,
        }
        self.info["samples"] = {"commit_latency_s": latencies, "scan_s": scans, "maintenance_s": maint}
        if tracer:
            from perfbench.spans import layer_metrics

            m = layer_metrics(tracer, stream_spans, per_batch, calls, layout,
                              wl.write_mode == "cow", self.check)
            self.write_trace(tracer, m)
            return {k: (v, u, None) for k, (v, u) in m.items()}
        return {
            "setup_s": (setup_s, "s", SETUP_REPS),
            "apply_events_per_s": (median_rate(calls), "1/s", len(calls)),
            "commit_latency_p50_s": (statistics.median(latencies), "s", len(latencies)),
            "commit_latency_p75_s": (p75(latencies), "s", len(latencies)),
            "bytes_written_per_event": (written / n_events, "B", len(per_batch)),
            "table_bytes_per_live_row": (table_bytes / live_rows, "B", None),
            "scan_s": (statistics.median(scans), "s", len(scans)),
            "maintenance_s": (maintenance_s, "s", len(maint)),
        }

    def copy_engine(self, eng, name: str):
        from image_report_spark.engine import CdcEngine

        root = os.path.join(self.work, name)
        shutil.copytree(eng.table.root, os.path.join(root, "table"))
        shutil.copytree(eng.checkpoint.root, os.path.join(root, "cp"))
        return CdcEngine(self.spark, os.path.join(root, "table"), os.path.join(root, "cp"), self.config())

    def maintain(self, eng, tracer) -> tuple[float, int]:
        """compact() then expire_snapshots(keep_last=1) on a table at rest:
        (seconds, files expired). The table's files are flushed first, so
        the deletes cost the same whether or not the kernel has written
        them back yet."""
        fsync_tree(eng.table.root)
        if tracer:
            tracer.install()
        t = time.perf_counter()
        try:
            self.op(eng.compact)
            expired = self.op(eng.table.expire_snapshots, 1)
        finally:
            wall = time.perf_counter() - t
            if tracer:
                tracer.uninstall()
        return wall, expired

    def timed_scan(self, eng, stream, scans: list, tracer):
        if tracer:
            tracer.install()
        t = time.perf_counter()
        try:
            got = self.op(self.scan, eng, tracer)
        finally:
            scans.append(time.perf_counter() - t)
            if tracer:
                tracer.uninstall()
        self.check(got == (stream.live_convs(), stream.live_rows()), "reader query result")

    def write_trace(self, tracer, metrics: dict) -> None:
        """The span file and the per-layer summary two traced runs can diff
        (``perfbench/diff_layers.py``)."""
        stem = os.path.join(OUT, f"{self.args.workload}-seed{self.args.seed}")
        tracer.write(stem + ".spans.jsonl", T_START)
        with open(stem + ".layers.json", "w") as f:
            json.dump({
                "workload": self.args.workload, "seed": self.args.seed,
                "stream": self.info.get("stream"),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }, f, indent=1, sort_keys=True)
        print(f"# trace: {stem}.spans.jsonl, {stem}.layers.json")


def spark_delta(spark, seen: set[int]) -> tuple[int, int]:
    """Jobs and completed tasks of the Spark jobs not in ``seen``."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for jid in st.getJobIdsForGroup(None):
        if jid in seen:
            continue
        seen.add(jid)
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return jobs, tasks


def fsync_tree(root: str) -> None:
    for dirpath, _, names in os.walk(root):
        for n in names:
            fd = os.open(os.path.join(dirpath, n), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def layout_stats(root: str, snap: dict) -> dict:
    """File layout of a snapshot: most files in one partition, and the share
    of referenced bytes that sit in merge-on-read delta files."""
    base = delta = 0
    most = 0
    for e in snap["manifest"]:
        fs, ds = e["files"], e.get("delta_files") or []
        most = max(most, len(fs) + len(ds))
        base += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
        delta += sum(os.path.getsize(os.path.join(root, f)) for f in ds)
    return {"files_per_partition_max": most, "delta_bytes_ratio": delta / max(base + delta, 1)}


def main(argv=None) -> int:
    args = parse_args(argv)
    cleared = sorted(k for k in os.environ if k.startswith(ENV_PREFIXES))
    for k in cleared:
        del os.environ[k]
    try:
        import image_report_spark.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    run = Run(args, work)
    metrics = None
    try:
        metrics = run.execute()
    except Exception:
        traceback.print_exc()
        if not run.failures:
            run.attempted += 1
            run.failed += 1
    finally:
        try:
            run.stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0 and metrics is not None
    report(run, cleared, metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u, _) in (metrics or {}).items() if k not in REPORT_ONLY
        },
    }))
    return 0 if correct else 1


def report(run: Run, cleared: list[str], metrics: dict | None) -> None:
    """Human-readable lines before the JSON result."""
    a = run.args
    print(f"# perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    if hasattr(run, "spark_conf"):
        cfg = dataclasses.asdict(run.config())
        cfg.pop("selected_metrics", None)
        print("# effective config: " + json.dumps({
            "engine": cfg, "spark": run.spark_conf, "workload": dataclasses.asdict(run.wl),
            "buckets": BUCKETS, "env_cleared": cleared,
        }, sort_keys=True))
    for k, v in run.info.items():
        print(f"# {k}: {json.dumps(v)}")
    for name, xs in run.info.get("samples", {}).items():
        if xs:
            print(f"# {name} samples  s  p50={statistics.median(xs):.6g} p75={p75(xs):.6g} n={len(xs)}")
    for name, (value, unit, n) in (metrics or {}).items():
        print(f"# {name}  {unit}  {value:.6g}" + (f"  n={n}" if n else ""))
    ratio = run.failed / max(run.attempted, 1)
    print(f"# failed_ratio  ratio  {ratio:.6g}  ({run.failed} of {run.attempted} operations)")
    for f in run.failures:
        print(f"# failure: {f}")


if __name__ == "__main__":
    sys.exit(main())
