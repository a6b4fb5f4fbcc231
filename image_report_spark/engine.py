"""CdcEngine — the apply/merge core.

Per micro-batch (SURVEY.md §3.4 lifecycle):

1. quarantine malformed events (per-item error isolation — graft of
   reference ir:208-216: record the failure, never abort the record set);
2. reconcile the batch schema with the table schema (additive evolution);
3. cross-batch exactly-once: boundary filter + bounded recent-LSN
   anti-join (the dedup window);
4. FUSED resolve + copy-on-write MERGE: union the batch with the touched
   partitions' incumbent rows, ONE shuffle on ``(bucket, salt)``, then a
   single window sort serves (a) within-batch exact-replay detection via
   ``lag`` (replicas sort adjacently), (b) the last-writer-wins
   ``row_number`` ranking on ``(ts, lsn, src)``, and (c) the per-key
   incumbent-liveness aggregate. Untouched partitions carry forward in the
   manifest metadata-only. Hot buckets are salted; the optional
   ``applyInPandas`` per-conversation ordered pre-resolve (grouped mode,
   BASELINE.json:6) plugs in before the union;
5. conservation ledger + per-partition lineage (counts, last-applied LSN,
   order-independent checksum) from the same cached ranking;
6. write data files (inheriting the shuffle's partitioning — no second
   exchange), commit the table snapshot (atomic pointer swap), then the
   checkpoint marker — crash at any boundary resumes cleanly because
   markers are written last and the merge is idempotent.

Everything is DataFrame ops + window functions + Arrow-vectorized pandas
(grouped path); no per-row Python anywhere (BASELINE.json:15).
"""

from __future__ import annotations

import os
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from image_report_spark.config import EngineConfig
from image_report_spark.functions.digests import (
    SEP,
    canonical_cols,
    table_digest,
    typed_row_digest,
)
from image_report_spark.operators.evolution import reconcile_schema
from image_report_spark.operators.resolve import resolve_lww_grouped
from image_report_spark.operators.skew import detect_hot_keys, salt_hot_keys
from image_report_spark.plans.checkpoint import Checkpoint
from image_report_spark.plans.icelite import IceliteTable, partition_expr, PART_COL
from image_report_spark.plans.sink import TableSink
from image_report_spark.sources.changelog import ChangeLogSource

#: the transcript table schema (BASELINE.json:15, input_hint)
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


#: narrow read-back schema for ``partstats_mode="stored"`` — the stats
#: aggregation needs only these four fixed-width columns; payload bytes
#: stay on disk (parquet schema projection skips their column chunks)
_PARTSTATS_SCHEMA = StructType(
    [
        StructField(PART_COL, IntegerType(), False),
        StructField("conv_id", StringType(), True),
        StructField("_lsn", LongType(), True),
        StructField("_op", StringType(), True),
        StructField("_h", LongType(), True),
    ]
)


def _checksum_cols_id(checksum_cols: list[str], rowhash_mode: str = "canonical") -> str:
    """Short stable id of the checksum column SET (and hash definition) a
    partition entry's ``checksum`` was computed over. The append fast-path
    may only xor-combine an old entry's checksum with fresh per-row hashes
    when both were computed over the same column set AND the same hash
    definition — after an additive schema evolution on a table without
    frozen ``checksum_columns`` the set changes, old entries stop
    matching, and those partitions fall back to a full rewrite (which
    re-hashes them under the new set and restores appendability). The
    ``rowhash_mode`` tag extends the same guard across hash-definition
    changes; canonical mode keeps the historical id format so manifests
    written before the mode existed stay appendable."""
    base = format(zlib.crc32("\x1f".join(checksum_cols).encode()), "08x")
    return base if rowhash_mode == "canonical" else f"{base}:{rowhash_mode}"


def _live_row_hash(
    df: DataFrame, checksum_cols: list[str], rowhash_mode: str = "canonical"
):
    """Per-row content hash of LIVE rows — NULL for tombstones so the
    partition ``bit_xor`` skips them. This is the unit of the
    order-independent partition checksum (functions/digests.py).
    ``rowhash_mode`` comes from the table snapshot (frozen at create):
    "typed" hashes native columns directly (no canonical cast-strings or
    concat buffer — see digests.typed_row_digest for the measured GC
    motivation), "canonical" is the original string-canonicalized form
    kept for tables created before the mode existed."""
    if rowhash_mode == "typed":
        h = typed_row_digest(df, checksum_cols)
    else:
        h = F.xxhash64(F.concat_ws(SEP, *canonical_cols(df, checksum_cols)))
    return F.when(F.col("_op") != "D", h)


def _driver_partition_stats(root: str, files: dict[int, list[str]]) -> list:
    """Driver-side arrow read-back of the narrow stats columns.

    Semantically identical to the Spark read-back (same skip-null max/min,
    same unsigned-64 hex checksum, and UTF-8 byte order == code-point
    order, so python string min/max matches Spark's binary collation);
    pinned against the other tiers in tests/test_partstats.py. Bounded by
    ``partstats_driver_bytes_limit``, so the driver reads a few MB of
    fixed-width column chunks — the same magnitude of driver I/O as the
    file renames and manifest JSON it already performs per commit —
    instead of paying a Spark job's fixed scheduling latency to do it."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def one(item):
        p, rels = item
        n = live = 0
        mx = None
        x = 0
        lo = hi = None
        for rel in rels:
            # Only `_h` is READ: `_h` is NULL exactly for tombstones
            # (xxhash64 over coalesced/concat inputs is never null for a
            # live row), so its non-null count IS the live-row count and
            # its values feed the xor checksum. Everything else comes
            # from file metadata: row_count from the footer, conv_id
            # min/max and _lsn max from the row-group statistics our own
            # writer just wrote (no truncation configured ⇒ exact;
            # parquet's unsigned-byte string order == Spark's binary
            # collation == python str comparison — the same equivalence
            # the full-column path relied on). A chunk without min/max
            # (all-null conv_id — null merge keys are legal) falls back
            # to reading that column for that file.
            pf = pq.ParquetFile(os.path.join(root, rel))
            md = pf.metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            n += md.num_rows
            need_read: set = set()
            f_lo = f_hi = None
            f_mx = None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                s_c = rg.column(idx["conv_id"]).statistics
                s_l = rg.column(idx["_lsn"]).statistics
                if s_c is not None and s_c.has_min_max:
                    f_lo = s_c.min if f_lo is None else min(f_lo, s_c.min)
                    f_hi = s_c.max if f_hi is None else max(f_hi, s_c.max)
                else:
                    need_read.add("conv_id")
                if s_l is not None and s_l.has_min_max:
                    f_mx = s_l.max if f_mx is None else max(f_mx, s_l.max)
                else:
                    need_read.add("_lsn")
            t = pf.read(columns=["_h"] + sorted(need_read))
            if "conv_id" in need_read:
                mm = pc.min_max(t.column("conv_id")).as_py()
                f_lo, f_hi = mm["min"], mm["max"]
            if "_lsn" in need_read:
                f_mx = pc.max(t.column("_lsn")).as_py()
            if f_mx is not None:
                mx = f_mx if mx is None else max(mx, f_mx)
            if f_lo is not None:
                lo = f_lo if lo is None else min(lo, f_lo)
                hi = f_hi if hi is None else max(hi, f_hi)
            hv = t.column("_h").drop_null().to_numpy(zero_copy_only=False)
            live += len(hv)
            if len(hv):
                x ^= int(np.bitwise_xor.reduce(hv.astype(np.int64).view(np.uint64)))
        return {
            PART_COL: p,
            "row_count": n,
            "live_rows": int(live),
            "last_applied_lsn": mx,
            "checksum": format(x & 0xFFFFFFFFFFFFFFFF, "016X"),
            "key_lo": lo,
            "key_hi": hi,
        }

    # arrow releases the GIL for decode/IO, so threads scale to real
    # parallelism; 16 ≈ one file-open round-trip amortized per ~8 files
    # at the bench's 128 partitions
    with ThreadPoolExecutor(max_workers=min(16, max(len(files), 1))) as ex:
        return list(ex.map(one, list(files.items())))


def _written_partition_stats(
    spark: SparkSession,
    root: str,
    files: dict[int, list[str]],
    logical: StructType,
    checksum_cols: list[str],
    mode: str,
    driver_bytes_limit: int = 0,
    rowhash_mode: str = "canonical",
) -> list:
    """Per-partition lineage (row counts, live rows, last applied LSN,
    order-independent checksum) aggregated from freshly WRITTEN files.

    ``mode="stored"`` (default): the per-row hash ``_h`` was already
    computed INSIDE the merge pipeline (JVM-side, riding the single
    write execution) and persisted in the files, so the read-back is a
    narrow scan of four fixed-width columns — at 100 TB the write path
    no longer re-reads every payload byte it just wrote (measured at
    sf0.1 / 2 M x 8: the payload re-read was 15-25% of apply wall,
    BENCH/BASELINE.md round 5). ``mode="reverify"``: recompute the hash
    from the on-disk payload bytes — a bit-level end-to-end write
    integrity check, the right paranoia for low-trust storage. Both
    modes produce identical checksums (pinned in tests/test_partstats.py).
    """
    from image_report_spark.plans.icelite import physical_schema

    if mode == "stored" and driver_bytes_limit and files:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for fl in files.values()
            for f in fl
        )
        if total <= driver_bytes_limit:
            return _driver_partition_stats(root, files)
    written_paths = [os.path.join(root, f) for fl in files.values() for f in fl]
    if mode == "reverify":
        wdf = spark.read.schema(physical_schema(logical)).parquet(*written_paths)
        h = _live_row_hash(wdf, checksum_cols, rowhash_mode)
    else:
        wdf = spark.read.schema(_PARTSTATS_SCHEMA).parquet(*written_paths)
        h = F.col("_h")
    return (
        wdf.withColumn("h", h)
        .groupBy(PART_COL)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.when(F.col("_op") != "D", 1).otherwise(0)).alias("live_rows"),
            F.max("_lsn").alias("last_applied_lsn"),
            F.lpad(F.hex(F.coalesce(F.expr("bit_xor(h)"), F.lit(0))), 16, "0").alias("checksum"),
            # zone map for the append fast-path's metadata tier
            F.min("conv_id").alias("key_lo"),
            F.max("conv_id").alias("key_hi"),
        )
        .collect()
    )


class BatchAborted(RuntimeError):
    """Raised under ``on_error='fail'`` — no snapshot/marker is committed."""


@dataclass
class BatchReport:
    batch_id: int
    snapshot_id: int | None = None
    skipped: bool = False
    events_read: int = 0
    quarantined: int = 0
    deduped: int = 0
    superseded: int = 0
    applied: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    rows_before: int = 0
    rows_after: int = 0
    partitions_touched: int = 0
    #: touched partitions taken by the copy-on-write append fast-path
    #: (all-insert batch slice, key range disjoint from the incumbent's —
    #: incumbent files carried forward, stats xor-combined)
    partitions_appended: int = 0
    #: always 0 (no write path carries a touched partition forward
    #: unchanged); kept because the frozen benchmark harness
    #: (perfbench/spans.py) reads it
    partitions_carried: int = 0
    wall_ms: int = 0
    table_digest: str | None = None
    #: partitions auto-compacted by ``mor_compact_delta_ratio`` after this
    #: batch's commit (0 when the policy is off or nothing crossed)
    auto_compacted_partitions: int = 0
    op_histogram: dict = field(default_factory=dict)
    phase_ms: dict = field(default_factory=dict)

    def ledger(self, selected: set[str]) -> dict:
        base = {
            "batch_id": self.batch_id,
            "partitions_touched": self.partitions_touched,
            "format_version": 1,
        }
        if self.partitions_appended:
            base["partitions_appended"] = self.partitions_appended
        for k in (
            "events_read applied deduped superseded quarantined "
            "rows_before inserts updates deletes rows_after".split()
        ):
            if k in selected:
                base[k] = getattr(self, k)
        if "wall_ms" in selected:
            base["wall_ms"] = self.wall_ms
        if "phase_ms" in selected:
            base["phase_ms"] = self.phase_ms
        if "table_digest" in selected:
            base["table_digest"] = self.table_digest
        if "op_histogram" in selected:
            base["op_histogram"] = self.op_histogram
        return base

    def conservation_ok(self) -> bool:
        return (
            self.applied + self.deduped + self.superseded + self.quarantined
            == self.events_read
            and self.rows_before + self.inserts - self.deletes == self.rows_after
        )


def build_mor_classification(
    dback: DataFrame,
    inc_scan: DataFrame,
    key_cols: list[str],
    broadcast_keys: bool,
) -> DataFrame:
    """Join the batch's delta winners against the incumbent's latest row
    per key, for MOR ledger classification (``_mor_tail``).

    Two regimes, chosen by the caller from the batch's size:

    * ``broadcast_keys=True`` (small batch): the delta's distinct keys are
      BROADCAST into the incumbent keys-only scan's semi-join, and the
      pruned one-row-per-key incumbent is BROADCAST back into the outer
      join — the incumbent never wide-shuffles and the classification
      adds zero Exchanges over the scan.
    * ``broadcast_keys=False`` (10–100 M-event batch / initial load): the
      same joins run SHUFFLED (sort-merge / shuffled-hash under AQE) —
      a GB-sized key set must degrade to a shuffle, not blow the 8 GB
      broadcast limit or driver memory. The incumbent side is still
      keys-only column-pruned and semi-joined down to batch-touched keys
      before its resolve window, so the shuffle carries narrow rows only.

    Kept as a module function so tests pin BOTH plan regimes against the
    exact production code path (tests/test_mor_plans.py).
    """
    iw = Window.partitionBy(PART_COL, *key_cols).orderBy(
        F.col("ts").desc_nulls_last(), F.col("_lsn").desc_nulls_last()
    )
    keyset = dback.select(*key_cols).distinct()
    if broadcast_keys:
        keyset = F.broadcast(keyset)
    inc1 = (
        inc_scan
        # keys-only prune: incumbent rows whose key the batch didn't
        # touch never reach the resolve window
        .join(keyset, key_cols, "left_semi")
        .withColumn("_rn", F.row_number().over(iw))
        .filter(F.col("_rn") == 1)
        .select(
            PART_COL,
            *key_cols,
            F.col("ts").alias("_i_ts"),
            F.col("_lsn").alias("_i_lsn"),
            (F.col("_op") != "D").cast("int").alias("_i_live"),
        )
    )
    if broadcast_keys:
        inc1 = F.broadcast(inc1)
    return dback.join(inc1, [PART_COL] + key_cols, "left")


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        checkpoint_root: str,
        config: EngineConfig | None = None,
        dedup_window_batches: int = 4,
        table: "TableSink | None" = None,
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        # the engine writes through the narrow TableSink surface
        # (plans/sink.py); IceliteTable is the jar-free default backend,
        # IcebergSink the documented cluster swap
        self.table: "TableSink" = table or IceliteTable(spark, table_root)
        self.checkpoint = Checkpoint(spark, checkpoint_root, dedup_window_batches)

    # ----------------------------------------------------------------- setup
    @classmethod
    def init(
        cls,
        spark: SparkSession,
        table_root: str,
        checkpoint_root: str,
        schema: StructType = TRANSCRIPT_SCHEMA,
        config: EngineConfig | None = None,
        dedup_window_batches: int = 4,
        table: "TableSink | None" = None,
    ) -> "CdcEngine":
        config = config or EngineConfig()
        eng = cls(
            spark, table_root, checkpoint_root, config, dedup_window_batches,
            table=table,
        )
        if not eng.table.exists():
            if table is not None:
                raise FileNotFoundError(
                    "injected TableSink has no table yet — create it via "
                    "its own backend (e.g. IceliteTable.create / Iceberg "
                    "CREATE TABLE) before CdcEngine.init"
                )
            IceliteTable.create(
                spark,
                table_root,
                schema,
                num_buckets=config.num_buckets,
                format_version=config.format_version,
            )
            # checksum column set + hash definition are frozen at creation so
            # partition digests stay comparable across schema evolution
            # (evolved columns are verified by full-content replay diff, not
            # by the rolling digest)
            eng.table.set_checksum_columns([f.name for f in schema.fields])
            eng.table.set_rowhash_mode(config.rowhash_mode)
        return eng

    # ------------------------------------------------------------ the merge
    def apply_batch(
        self,
        changes_raw: DataFrame,
        batch_id: int,
        prepass_rows: list | None = None,
    ) -> BatchReport:
        # Deliberately NOT cached: the raw batch is scanned ~2–3× (bucket
        # pre-pass, merge union, checkpoint lsn set), and re-running a
        # columnar parquet scan is far cheaper than materializing millions
        # of deserialized string rows in block storage — measured 8M events
        # on 32 threads: persist() cost 15 s of prepass + GC pressure across
        # every later stage; scan-again costs 1.4 s per pass. At cluster
        # scale caching a transient batch also evicts useful storage.
        # ``prepass_rows``: the bucket pre-pass result for THIS batch if a
        # caller (run()'s pipeline) already computed it concurrently with
        # the previous batch's tail — the pre-pass reads only the raw batch
        # files and no table/checkpoint state, so overlapping it is safe.
        return self._apply_batch(changes_raw, batch_id, prepass_rows)

    @staticmethod
    def _malformed_pred():
        return (
            F.col("lsn").isNull()
            | F.col("op").isNull()
            | ~F.col("op").isin("I", "U", "D")
        )

    def _prepass(self, changes_raw: DataFrame, num_buckets: int) -> list:
        """ONE pre-pass over the raw batch: total + malformed counts AND
        per-bucket sizes (touched-partition pruning + hot-bucket
        detection) fused into a single map-side-combined aggregate
        (quarantine split grafts per-item error isolation, ir:208-216).
        Reads ONLY the batch files — no table or checkpoint state — so
        run() may execute it for batch N+1 while batch N finishes."""
        malformed = self._malformed_pred()
        return (
            changes_raw.groupBy(partition_expr(num_buckets).alias(PART_COL))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(malformed, 1).otherwise(0)).alias("bad"),
                # valid non-insert events per bucket: the append fast-path
                # gate (a bucket qualifies only when this is zero) rides
                # the SAME map-side-combined prepass aggregate — no extra
                # job, no extra scan
                F.sum(
                    F.when(~malformed & (F.col("op") != "I"), 1).otherwise(0)
                ).alias("noni"),
                # per-bucket key range (zone map): lets the fast-path prove
                # key-disjointness against the manifest's stored per-
                # partition [key_lo, key_hi] WITHOUT any incumbent scan —
                # monotonic insert keys (auto-increment ids, snowflakes,
                # event time) append on metadata alone
                F.min(F.when(~malformed, F.col("conv_id"))).alias("klo"),
                F.max(F.when(~malformed, F.col("conv_id"))).alias("khi"),
                # null merge keys: the zone maps' min/max skip them, yet
                # the merge window groups them with the incumbent's null
                # keys — buckets carrying any null key never fast-path
                F.sum(
                    F.when(
                        ~malformed
                        & (F.col("conv_id").isNull() | F.col("turn_idx").isNull()),
                        1,
                    ).otherwise(0)
                ).alias("nullk"),
            )
            .collect()
        )

    def _apply_batch(
        self,
        changes_raw: DataFrame,
        batch_id: int,
        prepass_rows: list | None = None,
    ) -> BatchReport:
        t0 = time.monotonic()
        _last = [t0]
        cfg = self.config
        rpt = BatchReport(batch_id=batch_id)

        # per-phase durations land in the ledger as a selectable metric
        # (graft of the reference's per-section duration_sec attributes,
        # ir:218-221,347-353)
        def _tick(phase: str) -> None:
            now = time.monotonic()
            rpt.phase_ms[phase] = rpt.phase_ms.get(phase, 0) + int(
                (now - _last[0]) * 1000
            )
            _last[0] = now
        snap = self.table.snapshot()
        logical = self.table.logical_schema(snap)
        num_buckets = self.table.num_buckets(snap)
        checksum_cols = snap.get("checksum_columns") or [f.name for f in logical.fields]
        # hash definition frozen at table create; absent field (pre-mode
        # tables) means canonical — their manifests stay valid as-is
        rowhash_mode = snap.get("rowhash_mode") or "canonical"

        # 1. bucket pre-pass (see _prepass) — either computed here or handed
        # in by run()'s pipeline, which overlapped it with the previous
        # batch's write/stats/commit tail
        malformed = self._malformed_pred()
        bucket_rows = (
            self._prepass(changes_raw, num_buckets)
            if prepass_rows is None
            else prepass_rows
        )
        _tick("prepass")
        rpt.events_read = sum(int(r["n"]) for r in bucket_rows)
        bad = changes_raw.filter(malformed)
        rpt.quarantined = sum(int(r["bad"] or 0) for r in bucket_rows)
        if rpt.quarantined:
            if cfg.on_error == "fail":
                raise BatchAborted(
                    f"batch {batch_id}: {rpt.quarantined} malformed events "
                    f"(on_error=fail) — no snapshot committed"
                )
            self._write_quarantine(bad, batch_id)
        good = changes_raw.filter(~malformed)

        # 2. additive schema evolution (Arrow schema reconciliation)
        aligned, evolved = reconcile_schema(good, logical)
        payload_cols = [f.name for f in evolved.fields]

        # 3. cross-batch exactly-once filters: boundary + bounded recent-LSN
        # anti-join (within-batch duplicate LSNs are folded into the merge
        # windows below — no separate dropDuplicates shuffle)
        events = aligned
        boundary = self.checkpoint.boundary_lsn(batch_id)
        if boundary >= 0:
            events = events.filter(F.col("lsn") > boundary)
        recent = self.checkpoint.recent_lsns_df(batch_id)
        if recent is not None:
            events = events.join(recent, "lsn", "left_anti")
        # the default fused path consumes `events` exactly once (the union),
        # so no cache; grouped / quarantine-missing modes scan it repeatedly
        # keep a separate handle to the frame that was actually persisted:
        # grouped/quarantine modes rebind `events` to derived frames below,
        # and unpersisting a derived frame is a no-op (the cache would leak
        # across batches in a long run)
        events_pinned = None
        if cfg.grouped_resolve or cfg.update_missing == "quarantine":
            events_pinned = events = events.persist()
        try:
            old_entries = {e["partition"]: e for e in snap["manifest"]}
            rpt.rows_before = sum(e["live_rows"] for e in old_entries.values())

            # touched/hot partitions from the fused pre-pass (valid rows only;
            # an all-replay bucket still rewrites identically — harmless)
            touched = sorted(
                int(r[PART_COL]) for r in bucket_rows if int(r["n"]) - int(r["bad"] or 0) > 0
            )
            hot_buckets = [
                int(r[PART_COL])
                for r in bucket_rows
                if int(r["n"]) - int(r["bad"] or 0) > cfg.hot_key_threshold
            ]
            rpt.partitions_touched = len(touched)

            if not touched:
                # empty-batch short-circuit (graft of empty-input guards,
                # analysis.py:31-33): still commit a marker so resume sees it
                rpt.deduped = rpt.events_read - rpt.quarantined
                rpt.rows_after = rpt.rows_before
                sid = self.table.commit(
                    {}, evolved, batch_id, rpt.ledger(cfg.selected_metrics),
                    snap.get("table_digest"),
                )
                rpt.snapshot_id = sid
                rpt.table_digest = snap.get("table_digest")
                rpt.wall_ms = int((time.monotonic() - t0) * 1000)
                self.checkpoint.commit_batch(
                    batch_id, rpt.ledger(cfg.selected_metrics), sid,
                    events.select("lsn"), -1,
                )
                return rpt

            if cfg.update_missing == "quarantine":
                events, n_missing = self._quarantine_missing_updates(
                    events, num_buckets, batch_id
                )
                rpt.quarantined += n_missing

            pre = None
            if cfg.grouped_resolve:
                # applyInPandas per-conversation ordered apply (BASELINE.json:6)
                # — pre-resolves within the batch; the fused merge below then
                # only reconciles one winner/key against the incumbent
                pre = events.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col("lsn")).alias("nd"),
                ).first()
                hot = detect_hot_keys(events, threshold=cfg.hot_key_threshold)
                events = resolve_lww_grouped(
                    salt_hot_keys(events, hot, n_salt=cfg.skew_salt)
                ).drop("_salt")

            if cfg.write_mode == "mor":
                return self._mor_tail(
                    events, evolved, payload_cols, num_buckets, hot_buckets,
                    touched, old_entries, batch_id, rpt, _tick, t0,
                )
            return self._cow_tail(
                events, evolved, payload_cols, num_buckets, hot_buckets,
                touched, old_entries, bucket_rows, checksum_cols,
                rowhash_mode, pre, batch_id, rpt, _tick, t0,
            )
        finally:
            if events_pinned is not None:
                events_pinned.unpersist()

    # --------------------------------------------------------- copy-on-write
    def _cow_tail(
        self,
        events: DataFrame,
        evolved: StructType,
        payload_cols: list[str],
        num_buckets: int,
        hot_buckets: list[int],
        touched: list[int],
        old_entries: dict,
        bucket_rows: list,
        checksum_cols: list[str],
        rowhash_mode: str,
        pre: Row | None,
        batch_id: int,
        rpt: BatchReport,
        _tick,
        t0: float,
    ) -> BatchReport:
        """Copy-on-write write path (``EngineConfig.write_mode='cow'``).

        FUSED resolve + merge: one wide shuffle on (bucket, salt); both
        dedup windows, the LWW ranking, the per-key liveness aggregate and
        the final write all run inside that partitioning (HashPartitioning
        on a subset of each window's clustering keys — Catalyst inserts
        sorts, never another exchange), so the data moves across the
        network once. Every touched partition is rewritten, except the
        append fast-path's (``EngineConfig.cow_append_fastpath``), whose
        incumbent files carry forward. ``pre`` is the grouped pre-resolve's
        ``(n, nd)`` count row (None on the window-resolver path).
        """
        cfg = self.config
        salt = (
            F.when(
                F.col(PART_COL).isin(hot_buckets),
                F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(cfg.skew_salt)).cast("int"),
            ).otherwise(F.lit(0))
            if hot_buckets
            else F.lit(0)
        )
        # COW append fast-path: a partition whose batch slice is pure
        # inserts with a key range strictly disjoint from the entry's
        # stored zone map (prepass range vs manifest — zero extra jobs) is
        # APPENDED: its incumbent never enters the union (no read, no
        # re-sort, no re-encode); manifest stats xor-combine below. NULL
        # merge keys disqualify a bucket: min/max skip them, yet the merge
        # window groups them with the incumbent's NULL keys.
        ck_id = _checksum_cols_id(checksum_cols, rowhash_mode)
        append_parts: set[int] = set()
        if cfg.cow_append_fastpath:
            for r in bucket_rows:
                e = old_entries.get(int(r[PART_COL]))
                if (
                    int(r["noni"] or 0) == 0
                    and int(r["nullk"] or 0) == 0
                    and int(r["n"]) - int(r["bad"] or 0) > 0
                    and e is not None
                    and e.get("files")
                    and not e.get("delta_files")
                    and e.get("checksum") is not None
                    and e.get("ck_id") == ck_id
                    and all(
                        v is not None
                        for v in (e.get("key_lo"), e.get("key_hi"), r["klo"], r["khi"])
                    )
                    and (r["khi"] < e["key_lo"] or r["klo"] > e["key_hi"])
                ):
                    append_parts.add(int(r[PART_COL]))
            rpt.partitions_appended = len(append_parts)
        rewrite_parts = [p for p in touched if p not in append_parts]
        incumbent = self._read_physical(rewrite_parts, evolved).withColumn(
            "_src", F.lit(0)
        )
        # one selectExpr instead of withColumn+select+withColumn: the
        # merge construction repeats per batch, so driver round-trips
        # are a per-batch tax (the SQL text parses to the identical
        # expressions — partition_expr's pmod/xxhash64/cast)
        evt = events.selectExpr(
            f"cast(pmod(xxhash64(conv_id), {num_buckets}) as int) AS {PART_COL}",
            *[f"`{c}`" for c in payload_cols],
            "lsn AS _lsn",
            "op AS _op",
            "1 AS _src",
        )

        # repartition on _salt only when it's a real column: a lit(0)
        # salt constant-folds OUT of the window's required clustering
        # but NOT out of hashpartitioning, which would defeat the
        # subset-satisfaction rule and buy a second Exchange
        # (asserted in tests/test_plans.py). No explicit partition count:
        # AQE sizes/coalesces the exchange; parallelism comes from
        # #buckets × salt, so num_buckets (not shuffle.partitions) is the
        # scale knob.
        u = incumbent.unionByName(evt).withColumn("_salt", salt)
        u = u.repartition(
            *([F.col(PART_COL)] + ([F.col("_salt")] if hot_buckets else []))
        )
        # ONE window sort serves everything: within a key, rows sharing
        # an LSN (exact replays — byte-identical; an idempotent re-apply
        # pairs the event with its incumbent) sort adjacently, so replay
        # detection is a lag() in the SAME (partition, order) spec as the
        # LWW row_number — a single WindowExec, a single sort. The
        # per-key liveness max() needs only the clustering prefix, so it
        # rides the same sort too. (Graft of the NMS duplicate
        # suppression, utils.py:270-319.)
        # (built as SQL text — one driver round-trip for the whole
        # window block instead of one per Column; parses to the same
        # WindowExec, pinned by the single-exchange plan test)
        part_spec = f"PARTITION BY {PART_COL}, _salt, conv_id, turn_idx"
        order_spec = (
            f"{part_spec} ORDER BY ts DESC NULLS LAST, "
            "_lsn DESC NULLS LAST, _src ASC"  # exact tie → incumbent wins
        )
        ranked = u.selectExpr(
            "*",
            f"row_number() OVER ({order_spec}) AS _rn",
            f"if(lag(_lsn) OVER ({order_spec}) <=> _lsn, 1, 0) AS _replay",
            f"max(if(_src = 0 AND _op <> 'D', 1, 0)) OVER ({part_spec}) AS _inc_live",
        )
        # deliberately NOT cached: caching wide string rows is a GC bomb
        # (measured: 120 s GC in one 64-task stage); instead the pipeline
        # runs exactly once — inside the file write — with ledger stats
        # collected by observe() on that same job, and partition stats
        # computed either by a second observation riding that same job
        # (tier 1) or from a NARROW fixed-width read-back of the freshly
        # written files (tier 2, which persists the pipeline-computed
        # per-row hash `_h` alongside `_salt`; partstats_mode="reverify"
        # instead re-hashes the on-disk payload bytes as a bit-level
        # integrity check)
        obs = Observation(f"batch-{batch_id}")
        # one parsed SQL expression per aggregate (vs ~6 driver
        # round-trips per Column build); `_src = 1 AND _rn = 1` is the
        # "winning event row" predicate throughout
        obs_exprs = [
            "sum(if(_src = 1 AND _rn = 1, 1, 0)) AS applied",
            "sum(if(_src = 1 AND _replay = 1, 1, 0)) AS dups",
            "sum(if(_src = 1 AND _replay = 0 AND _rn > 1, 1, 0)) AS superseded",
            "sum(if(_src = 1 AND _rn = 1 AND _op IN ('I', 'U') AND _inc_live = 0, 1, 0)) AS ins",
            "sum(if(_src = 1 AND _rn = 1 AND _op IN ('I', 'U') AND _inc_live = 1, 1, 0)) AS upd",
            "sum(if(_src = 1 AND _rn = 1 AND _op = 'D' AND _inc_live = 1, 1, 0)) AS `del`",
            "sum(if(_rn = 1 AND _op <> 'D', 1, 0)) AS live_after",
            "max(if(_src = 1, _lsn, null)) AS mx",
            # op histogram folded into the SAME observation (3 more
            # conditional sums on the one pipeline execution) — the old
            # groupBy recompute re-ran the entire uncached merge when
            # metrics=all
            *[
                f"sum(if(_src = 1 AND _replay = 0 AND _op = '{o}', 1, 0)) AS op_{o}"
                for o in ("I", "U", "D")
            ],
        ]
        merged = ranked.observe(obs, *[F.expr(s) for s in obs_exprs]).filter(
            F.col("_rn") == 1
        )

        # write files FIRST (the one and only pipeline execution;
        # unreferenced until the snapshot commit below). `_salt` rides
        # along so the window's output ordering satisfies the write sort
        # (projecting it away would truncate the known ordering and
        # force a second full sort)
        phys_cols = [PART_COL] + payload_cols + ["_lsn", "_op", "_salt"]
        # partition-stats tier 1: when the touched set is small enough,
        # the per-partition lineage aggregates (count / live / max LSN /
        # bit_xor checksum) ride the WRITE JOB as a second observation —
        # 4 conditional aggregates per touched partition, zero extra
        # Spark job, zero read-back bytes, and the per-row hash `_h` is
        # DROPPED before the write (an incompressible 8 bytes/row that
        # only the tier-2 read-back would consume). Above the limit the
        # narrow fixed-width file read-back (tier 2) keeps the plan size
        # O(1) and persists `_h` for its own scan; "reverify" skips the
        # pipeline hash entirely and re-hashes the on-disk payloads.
        use_pobs = (
            cfg.partstats_mode == "stored"
            and 0 < len(touched) <= cfg.partstats_observe_limit
        )
        if cfg.partstats_mode == "reverify":
            to_write = merged.select(*phys_cols)
        else:
            to_write = merged.withColumn(
                "_h", _live_row_hash(merged, checksum_cols, rowhash_mode)
            ).select(*(phys_cols + ["_h"]))
        if use_pobs:
            pobs = Observation(f"pstats-{batch_id}")
            # ONE named_struct expression (single py4j call, parsed
            # JVM-side) — 4 aggregates per touched partition as Column
            # objects would add ~100s of py4j round-trips per batch to
            # the plan phase, the very driver overhead being removed
            entries = ", ".join(
                f"'n_{p}', sum(if({PART_COL} = {p}, 1, 0)), "
                f"'l_{p}', sum(if({PART_COL} = {p} and _op <> 'D', 1, 0)), "
                f"'m_{p}', max(if({PART_COL} = {p}, _lsn, null)), "
                f"'x_{p}', bit_xor(if({PART_COL} = {p}, _h, null)), "
                f"'a_{p}', min(if({PART_COL} = {p}, conv_id, null)), "
                f"'b_{p}', max(if({PART_COL} = {p}, conv_id, null))"
                for p in touched
            )
            to_write = to_write.observe(
                pobs, F.expr(f"named_struct({entries})").alias("pstats")
            ).drop("_h")
        _tick("plan")
        # the dedup-window LSN set is independent of the merge output,
        # so its (job-overhead-dominated) Parquet write is submitted
        # BEFORE the big write job and backfills idle cores during the
        # merge's stragglers/tail (guide-§2.6 overlap). The commit marker
        # is still only written after BOTH complete — crash semantics
        # unchanged: marker exists ⇒ dedup state is on disk.
        lsn_pool = ThreadPoolExecutor(max_workers=1)
        try:
            lsn_fut = lsn_pool.submit(
                self.checkpoint.write_seen_lsns, batch_id, events.select("lsn")
            )
            files = self.table.write_partition_files(
                to_write, batch_id, pre_partitioned=True
            )
            stats = obs.get
            _tick("write+merge")

            # per-partition lineage: already collected by the write job's
            # observation (tier 1), else a narrow scan of the written files
            # ("stored" tier 2) or a full payload re-hash ("reverify")
            if use_pobs:
                pv = pobs.get["pstats"]
                part_rows = [
                    {
                        PART_COL: p,
                        "row_count": int(pv[f"n_{p}"] or 0),
                        "live_rows": int(pv[f"l_{p}"] or 0),
                        "last_applied_lsn": pv[f"m_{p}"],
                        # match F.lpad(F.hex(bigint)): unsigned 64-bit,
                        # uppercase, zero-padded to 16
                        "checksum": format(
                            (pv[f"x_{p}"] or 0) & 0xFFFFFFFFFFFFFFFF, "016X"
                        ),
                        "key_lo": pv[f"a_{p}"],
                        "key_hi": pv[f"b_{p}"],
                    }
                    for p in touched
                    if p in files
                ]
            else:
                part_rows = _written_partition_stats(
                    self.spark, self.table.root, files, evolved, checksum_cols,
                    cfg.partstats_mode, cfg.partstats_driver_bytes_limit,
                    rowhash_mode,
                )
            _tick("partstats")
            rpt.applied = int(stats["applied"] or 0)
            rpt.inserts = int(stats["ins"] or 0)
            rpt.updates = int(stats["upd"] or 0)
            rpt.deletes = int(stats["del"] or 0)
            max_lsn = stats["mx"]
            n_into_union = (
                rpt.applied + int(stats["superseded"] or 0) + int(stats["dups"] or 0)
            )
            if pre is not None:
                # grouped pre-resolve dropped (n_pre − n_resolved) events:
                # duplicates-by-lsn first, the rest lost LWW in-batch
                n_pre = int(pre["n"])
                pre_dropped_dups = n_pre - int(pre["nd"])
                pre_dropped_superseded = n_pre - n_into_union - pre_dropped_dups
                rpt.superseded = (
                    int(stats["superseded"] or 0) + pre_dropped_superseded
                )
                rpt.deduped = (
                    rpt.events_read - rpt.quarantined - n_pre
                    + pre_dropped_dups + int(stats["dups"] or 0)
                )
            else:
                rpt.superseded = int(stats["superseded"] or 0)
                rpt.deduped = (
                    rpt.events_read - rpt.quarantined - n_into_union
                    + int(stats["dups"] or 0)
                )
            # appended partitions KEEP their old live rows (incumbent files
            # carry forward), so only rewritten partitions' old live counts
            # are displaced by the merge output's live_after
            touched_old_live = sum(
                old_entries[p]["live_rows"]
                for p in rewrite_parts
                if p in old_entries
            )
            rpt.rows_after = (
                rpt.rows_before - touched_old_live + int(stats["live_after"] or 0)
            )
            if "op_histogram" in cfg.selected_metrics:
                rpt.op_histogram = {
                    o: int(stats[f"op_{o}"] or 0)
                    for o in ("I", "U", "D")
                    if int(stats[f"op_{o}"] or 0)
                }

            # commit snapshot + checkpoint marker (in order)
            replaced = {}
            for r in part_rows:
                p = int(r[PART_COL])
                new_lal = (
                    int(r["last_applied_lsn"])
                    if r["last_applied_lsn"] is not None
                    else None
                )
                if p in append_parts:
                    # manifest-level append: old files + the new file(s);
                    # counts add, checksums xor-combine (order-independent
                    # bit_xor over live-row hashes — old ⊕ new is EXACTLY
                    # what a full rewrite of the disjoint-key union would
                    # have stored, ck_id-guarded above); the zone map takes
                    # the envelope of both sides (None = unknown poisons it)
                    old = old_entries[p]
                    old_lal = old.get("last_applied_lsn")
                    olo, ohi = old.get("key_lo"), old.get("key_hi")
                    nlo, nhi = r["key_lo"], r["key_hi"]
                    replaced[p] = {
                        "files": list(old["files"]) + files.get(p, []),
                        "row_count": int(old["row_count"]) + int(r["row_count"]),
                        "live_rows": int(old["live_rows"]) + int(r["live_rows"]),
                        "checksum": format(
                            int(old["checksum"], 16) ^ int(r["checksum"], 16),
                            "016X",
                        ),
                        "last_applied_lsn": max(
                            (v for v in (old_lal, new_lal) if v is not None),
                            default=None,
                        ),
                        "key_lo": min(olo, nlo) if olo is not None and nlo is not None else None,
                        "key_hi": max(ohi, nhi) if ohi is not None and nhi is not None else None,
                        "ck_id": ck_id,
                    }
                else:
                    replaced[p] = {
                        "files": files.get(p, []),
                        "row_count": int(r["row_count"]),
                        "live_rows": int(r["live_rows"]),
                        "checksum": r["checksum"],
                        "last_applied_lsn": new_lal,
                        "key_lo": r["key_lo"],
                        "key_hi": r["key_hi"],
                        "ck_id": ck_id,
                    }
            # table digest over the NEW manifest (replaced + carried forward)
            all_entries = dict(old_entries)
            all_entries.update(replaced)
            digest = table_digest(
                [
                    (p, e["live_rows"], e["checksum"])
                    for p, e in all_entries.items()
                ]
            )
            rpt.table_digest = digest
            rpt.wall_ms = int((time.monotonic() - t0) * 1000)
            ledger = rpt.ledger(cfg.selected_metrics)
            _tick("ledger")
            sid = self.table.commit(replaced, evolved, batch_id, ledger, digest)
            rpt.snapshot_id = sid
            lsn_fut.result()  # dedup state durable before the marker
            self.checkpoint.mark_committed(
                batch_id, ledger, sid,
                max_lsn if max_lsn is not None else -1,
            )
            _tick("commit+seen")
        finally:
            lsn_pool.shutdown(wait=True)
        return rpt

    # --------------------------------------------------------- merge-on-read
    def _mor_tail(
        self,
        events: DataFrame,
        evolved: StructType,
        payload_cols: list[str],
        num_buckets: int,
        hot_buckets: list[int],
        touched: list[int],
        old_entries: dict,
        batch_id: int,
        rpt: BatchReport,
        _tick,
        t0: float,
    ) -> BatchReport:
        """Merge-on-read write path (``EngineConfig.write_mode='mor'``).

        Instead of rewriting every touched partition (COW), the batch is
        resolved WITHIN ITSELF by the same LWW window and the winners are
        written as per-partition DELTA files; the merge against the
        incumbent is deferred to read time (``IceliteTable.read`` resolves
        base ∪ deltas) or to ``compact()``. At 100 TB an update-heavy batch
        touching a few rows per partition writes kilobytes instead of
        rewriting terabytes — the Iceberg-v2 / Hudi trade, re-expressed on
        the engine's own table format.

        The ledger still matches COW batch-for-batch: delta winners are
        classified against the incumbent via a KEYS-ONLY column-pruned scan
        (conv_id, turn_idx, ts, _lsn, _op) of the touched partitions'
        base+prior-delta files, semi-joined down to the delta's keys before
        the resolve window — so the classification job reads a few percent
        of the table bytes (text payloads never move) and shuffles only
        rows whose keys the batch touched. Partition checksums and the
        table digest are undefined (None) while deltas are pending; they
        are restored by ``compact()``, after which the digest EQUALS the
        COW digest for the same log (asserted in tests/test_mor.py).
        """
        cfg = self.config
        from image_report_spark.plans.icelite import physical_schema

        salt = (
            F.when(
                F.col(PART_COL).isin(hot_buckets),
                F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(cfg.skew_salt)).cast("int"),
            ).otherwise(F.lit(0))
            if hot_buckets
            else F.lit(0)
        )
        evt = (
            events.withColumn(PART_COL, partition_expr(num_buckets))
            .select(
                F.col(PART_COL),
                *[F.col(c) for c in payload_cols],
                F.col("lsn").alias("_lsn"),
                F.col("op").alias("_op"),
            )
            .withColumn("_salt", salt)
        )
        repart_cols = [F.col(PART_COL)] + ([F.col("_salt")] if hot_buckets else [])
        # same single-sort window family as the COW merge, minus the
        # incumbent union: LWW rank + same-LSN replay adjacency in one spec
        keyw = Window.partitionBy(PART_COL, "_salt", "conv_id", "turn_idx")
        order = keyw.orderBy(
            F.col("ts").desc_nulls_last(), F.col("_lsn").desc_nulls_last()
        )
        obs = Observation(f"mor-batch-{batch_id}")
        ranked = (
            evt.repartition(*repart_cols)
            .withColumn("_rn", F.row_number().over(order))
            .withColumn(
                "_replay",
                F.when(
                    F.lag("_lsn").over(order).eqNullSafe(F.col("_lsn")), 1
                ).otherwise(0),
            )
        )
        ranked_obs = ranked.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(F.col("_replay") == 1, 1).otherwise(0)).alias("dups_b"),
            F.sum(
                F.when((F.col("_replay") == 0) & (F.col("_rn") > 1), 1).otherwise(0)
            ).alias("sup_b"),
            F.max("_lsn").alias("mx"),
        )
        winners = ranked_obs.filter(F.col("_rn") == 1)
        phys_cols = [PART_COL] + payload_cols + ["_lsn", "_op"]
        _tick("plan")
        # as in the COW path: the seen-LSN write is independent of the
        # delta write, so it backfills the write job's tail (guide §2.6)
        lsn_pool = ThreadPoolExecutor(max_workers=1)
        try:
            lsn_fut = lsn_pool.submit(
                self.checkpoint.write_seen_lsns, batch_id, events.select("lsn")
            )
            files = self.table.write_partition_files(
                winners.select(*(phys_cols + ["_salt"])), batch_id,
                pre_partitioned=True,
            )
            stats = obs.get
            _tick("write+delta")

            # classification + per-partition delta stats: one narrow job
            key_cols = ["conv_id", "turn_idx"]
            narrow = [PART_COL] + key_cols + ["ts", "_lsn", "_op"]
            written_paths = [
                os.path.join(self.table.root, f) for fl in files.values() for f in fl
            ]
            dback = (
                self.spark.read.schema(physical_schema(evolved))
                .parquet(*written_paths)
                .select(*narrow)
            )
            inc_files = []
            for p in touched:
                e = old_entries.get(p)
                if e:
                    inc_files.extend(e["files"])
                    inc_files.extend(e.get("delta_files") or [])
            if inc_files:
                inc_scan = (
                    self.spark.read.schema(physical_schema(evolved))
                    .parquet(*[os.path.join(self.table.root, f) for f in inc_files])
                    .select(*narrow)
                )
                # size-gate the broadcasts: the bucket pre-pass already
                # counted the batch's valid events on the driver — an upper
                # bound on its distinct key count, so the gate never
                # broadcasts a frame bigger than it expects
                valid_events = rpt.events_read - rpt.quarantined
                j = build_mor_classification(
                    dback,
                    inc_scan,
                    key_cols,
                    broadcast_keys=valid_events <= cfg.mor_broadcast_key_limit,
                )
            else:
                j = (
                    dback.withColumn("_i_ts", F.lit(None).cast("timestamp"))
                    .withColumn("_i_lsn", F.lit(None).cast("long"))
                    .withColumn("_i_live", F.lit(None).cast("int"))
                )
            # the delta winner beats the incumbent exactly when it would
            # have won the COW union window: ts desc nulls last, lsn desc,
            # incumbent wins exact ties
            has_inc = F.col("_i_lsn").isNotNull()
            ts_gt = F.col("ts").isNotNull() & (
                F.col("_i_ts").isNull() | (F.col("ts") > F.col("_i_ts"))
            )
            beats = (
                (~has_inc)
                | ts_gt
                | (F.col("ts").eqNullSafe(F.col("_i_ts")) & (F.col("_lsn") > F.col("_i_lsn")))
            )
            replay_vb = has_inc & (F.col("_lsn") == F.col("_i_lsn"))
            upsert = F.col("_op").isin("I", "U")
            live = F.col("_i_live") == 1
            c = lambda p: F.sum(F.when(p, 1).otherwise(0))  # noqa: E731
            pstats = (
                j.groupBy(PART_COL)
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.max("_lsn").alias("max_lsn"),
                    c(beats).alias("applied"),
                    c(~beats & replay_vb).alias("dups_vb"),
                    c(~beats & ~replay_vb).alias("sup_vb"),
                    c(beats & upsert & ~live.eqNullSafe(F.lit(True))).alias("ins"),
                    c(beats & upsert & live).alias("upd"),
                    c(beats & (F.col("_op") == "D") & live).alias("del"),
                )
                .collect()
            )
            _tick("classify")

            def s(col: str) -> int:
                return sum(int(r[col] or 0) for r in pstats)

            rpt.applied = s("applied")
            rpt.inserts = s("ins")
            rpt.updates = s("upd")
            rpt.deletes = s("del")
            rpt.superseded = int(stats["sup_b"] or 0) + s("sup_vb")
            rpt.deduped = (
                rpt.events_read - rpt.quarantined - rpt.applied - rpt.superseded
            )
            rpt.rows_before = sum(e["live_rows"] for e in old_entries.values())
            rpt.rows_after = rpt.rows_before + rpt.inserts - rpt.deletes
            max_lsn = stats["mx"]

            replaced = {}
            for r in pstats:
                p = int(r[PART_COL])
                old = old_entries.get(p)
                old_lal = old.get("last_applied_lsn") if old else None
                new_lal = int(r["max_lsn"]) if r["max_lsn"] is not None else None
                entry = {
                    "files": list(old["files"]) if old else [],
                    "delta_files": (list(old.get("delta_files") or []) if old else [])
                    + files.get(p, []),
                    "row_count": (int(old["row_count"]) if old else 0) + int(r["rows"]),
                    "live_rows": (int(old["live_rows"]) if old else 0)
                    + int(r["ins"] or 0)
                    - int(r["del"] or 0),
                    # checksum/digest undefined while deltas are pending;
                    # compact() restores them (and the table digest)
                    "checksum": None,
                    "last_applied_lsn": max(
                        (v for v in (old_lal, new_lal) if v is not None),
                        default=None,
                    ),
                }
                replaced[p] = entry
            rpt.table_digest = None
            rpt.wall_ms = int((time.monotonic() - t0) * 1000)
            ledger = rpt.ledger(cfg.selected_metrics)
            _tick("ledger")
            sid = self.table.commit(replaced, evolved, batch_id, ledger, None)
            rpt.snapshot_id = sid
            lsn_fut.result()  # dedup state durable before the marker
            self.checkpoint.mark_committed(
                batch_id, ledger, sid, max_lsn if max_lsn is not None else -1
            )
            _tick("commit+seen")
        finally:
            lsn_pool.shutdown(wait=True)

        # auto-compaction policy: fold deltas back into base for any
        # TOUCHED partition whose accumulated delta bytes crossed
        # ratio × base bytes — partition-local (O(dirty), schedulable per
        # partition on a cluster), AFTER the batch's own commit so apply
        # atomicity and the marker protocol are untouched. File sizes come
        # from the local manifest paths — O(files of touched partitions)
        # driver work, no Spark job.
        ratio = cfg.mor_compact_delta_ratio
        if ratio is not None:
            def _bytes(paths: list[str]) -> int:
                return sum(
                    os.path.getsize(os.path.join(self.table.root, f))
                    for f in paths
                )

            crossed = [
                p
                for p, e in replaced.items()
                if _bytes(e.get("delta_files") or [])
                > ratio * _bytes(e["files"])
            ]
            if crossed:
                self.compact(partitions=sorted(crossed))
                rpt.auto_compacted_partitions = len(crossed)
                _tick("auto_compact")
        return rpt

    def compact(self, partitions: list[int] | None = None) -> dict:
        """Fold pending merge-on-read delta files back into base files.

        Reads each dirty partition MOR-resolved (base ∪ deltas through the
        LWW window), rewrites it as fresh base files, recomputes the
        partition's live-row checksum exactly as the COW write path does,
        and commits a snapshot with ``delta_files=[]``. After compacting
        every dirty partition, the table digest is defined again and EQUALS
        the digest a COW apply of the same log produces (same winning rows,
        same canonical checksum — asserted in tests/test_mor.py). Clean
        partitions are carried forward metadata-only, so compaction cost is
        O(dirty partitions), schedulable per-partition on a cluster."""
        snap = self.table.snapshot()
        logical = self.table.logical_schema(snap)
        checksum_cols = snap.get("checksum_columns") or [f.name for f in logical.fields]
        rowhash_mode = snap.get("rowhash_mode") or "canonical"
        dirty = [
            e
            for e in snap["manifest"]
            if (e.get("delta_files") or [])
            and (partitions is None or e["partition"] in partitions)
        ]
        if not dirty:
            return {
                "compacted_partitions": 0,
                "snapshot_id": snap["snapshot_id"],
                "table_digest": snap.get("table_digest"),
            }
        parts = [e["partition"] for e in dirty]
        resolved = self.table.read(partitions=parts, with_lineage=True)
        if self.config.partstats_mode == "stored":
            # persist the pipeline-computed row hash for the narrow stats
            # read-back; reverify re-hashes the on-disk payloads instead,
            # so don't pay 8 incompressible bytes/row for an unread column
            resolved = resolved.withColumn(
                "_h", _live_row_hash(resolved, checksum_cols, rowhash_mode)
            )
        label = f"c{snap['snapshot_id']:05d}"
        files = self.table.write_partition_files(
            resolved, batch_id=snap["snapshot_id"], dir_label=label
        )
        part_rows = _written_partition_stats(
            self.spark, self.table.root, files, logical, checksum_cols,
            self.config.partstats_mode, self.config.partstats_driver_bytes_limit,
            rowhash_mode,
        )
        ck_id = _checksum_cols_id(checksum_cols, rowhash_mode)
        replaced = {}
        for r in part_rows:
            p = int(r[PART_COL])
            replaced[p] = {
                "files": files.get(p, []),
                "delta_files": [],
                "row_count": int(r["row_count"]),
                "live_rows": int(r["live_rows"]),
                "checksum": r["checksum"],
                "last_applied_lsn": int(r["last_applied_lsn"])
                if r["last_applied_lsn"] is not None
                else None,
                # compacted entries are clean + freshly checksummed, so they
                # are append-fast-path-eligible for subsequent COW batches
                "key_lo": r["key_lo"],
                "key_hi": r["key_hi"],
                "ck_id": ck_id,
            }
        # digest is defined again only once NO entry still has a pending
        # delta or an undefined checksum
        all_entries = {e["partition"]: e for e in snap["manifest"]}
        all_entries.update(replaced)
        digest = None
        if all(
            e.get("checksum") is not None and not (e.get("delta_files") or [])
            for e in all_entries.values()
        ):
            digest = table_digest(
                [
                    (p, e["live_rows"], e["checksum"])
                    for p, e in all_entries.items()
                ]
            )
        ledger = {"op": "compaction", "compacted_partitions": len(parts)}
        sid = self.table.commit(replaced, logical, None, ledger, digest)
        return {
            "compacted_partitions": len(parts),
            "snapshot_id": sid,
            "table_digest": digest,
        }

    # ------------------------------------------------------------------ run
    def run(self, log_dir: str, max_batches: int | None = None) -> list[BatchReport]:
        """Tail the log directory, applying unapplied batches in order
        (crash-resume: committed markers are skipped).

        The NEXT batch's bucket pre-pass (a small scan-and-aggregate job
        over only the raw batch files — no table or checkpoint state) is
        submitted on a background thread as each batch starts, so it
        backfills idle cores during the current batch's write/stats/commit
        tail instead of serializing ~0.2-0.3 s per batch on the critical
        path (guide §2.6 overlap, same pattern as the seen-LSN write).
        Commit ordering and crash semantics are untouched: the pre-pass
        writes nothing, and each batch still commits before the next
        batch's table-dependent work begins."""
        source = ChangeLogSource(self.spark, log_dir)
        reports: list[BatchReport] = []
        todo: list[tuple[int, str]] = []
        for batch_id, path in source.list_batches():
            if max_batches is not None and len(todo) >= max_batches:
                break
            todo.append((batch_id, path))
        num_buckets = self.table.num_buckets()

        def _prefetch(path: str):
            raw = source.read_batch(path)
            return raw, self._prepass(raw, num_buckets)

        pool = ThreadPoolExecutor(max_workers=1)
        fut = None
        fut_for: int | None = None
        try:
            for i, (batch_id, path) in enumerate(todo):
                if self.checkpoint.is_applied(batch_id):
                    reports.append(BatchReport(batch_id=batch_id, skipped=True))
                    continue
                if fut is not None and fut_for == batch_id:
                    raw, rows = fut.result()
                else:
                    raw, rows = source.read_batch(path), None
                fut, fut_for = None, None
                for nb_id, nb_path in todo[i + 1 :]:
                    if not self.checkpoint.is_applied(nb_id):
                        fut = pool.submit(_prefetch, nb_path)
                        fut_for = nb_id
                        break
                reports.append(self.apply_batch(raw, batch_id, prepass_rows=rows))
        finally:
            pool.shutdown(wait=True)
        return reports

    # ------------------------------------------------------------------ read
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return self.table.read(snapshot_id)

    def current_table_digest(self) -> str | None:
        return self.table.snapshot().get("table_digest")

    # --------------------------------------------------------- replay-verify
    def replay_verify(self, log_dir: str, scratch_root: str) -> dict:
        """Rebuild from LSN 0 into a scratch table; diff against the
        incrementally-maintained table (graft of the v2 validator checklist,
        docs/report-schema-v2.md:352-368). Returns a report dict; ``ok`` is
        True iff content + digests match exactly."""
        fresh = CdcEngine.init(
            self.spark,
            os.path.join(scratch_root, "table"),
            os.path.join(scratch_root, "checkpoint"),
            schema=StructType(
                [f for f in self.table.logical_schema().fields]
            ),
            config=self.config,
            dedup_window_batches=self.checkpoint.window,
        )
        # the live table's checksum_columns were frozen at ITS creation; the
        # scratch table just froze the current (possibly evolved) schema.
        # Copy the live set over so both digests hash the same column set —
        # otherwise replay_verify reports ok=False after any schema evolution
        # even when content is identical.
        live_snap = self.table.snapshot()
        fsnap = fresh.table.snapshot()
        live_ck = live_snap.get("checksum_columns")
        if live_ck is not None:
            fsnap["checksum_columns"] = list(live_ck)
        # the hash definition must match too, or content-identical tables
        # report digest mismatch (same reasoning as the column set; absent
        # field = canonical, so copy the absence as well)
        fsnap["rowhash_mode"] = live_snap.get("rowhash_mode") or "canonical"
        fresh.table._write_snapshot(fsnap)
        fresh.run(log_dir)
        a, b = self.read(), fresh.read()
        cols = sorted(set(a.columns) & set(b.columns))
        missing_in_b = a.select(cols).exceptAll(b.select(cols)).count()
        missing_in_a = b.select(cols).exceptAll(a.select(cols)).count()
        da, db = self.current_table_digest(), fresh.current_table_digest()
        return {
            "ok": missing_in_a == 0 and missing_in_b == 0 and da == db,
            "rows_incremental": a.count(),
            "rows_replay": b.count(),
            "only_in_incremental": missing_in_b,
            "only_in_replay": missing_in_a,
            "digest_incremental": da,
            "digest_replay": db,
        }

    # -------------------------------------------------------------- internals
    def _read_physical(self, partitions: list[int], logical: StructType) -> DataFrame:
        """Touched-partition scan through the *evolved* schema projection."""
        snap = self.table.snapshot()
        from image_report_spark.plans.icelite import physical_schema

        phys = physical_schema(logical)
        files = []
        for e in snap["manifest"]:
            if e["partition"] in partitions:
                if e.get("delta_files"):
                    # a COW merge's union window would mis-attribute
                    # incumbent liveness over unresolved delta rows —
                    # refuse rather than silently corrupt the ledger
                    raise RuntimeError(
                        f"partition {e['partition']} has pending merge-on-read "
                        "delta files; run compact() before applying "
                        "copy-on-write batches to this table"
                    )
                files.extend(os.path.join(self.table.root, f) for f in e["files"])
        if not files:
            return self.spark.createDataFrame([], phys)
        return self.spark.read.schema(phys).parquet(*files)

    def _write_quarantine(self, bad: DataFrame, batch_id: int) -> None:
        reason = (
            F.when(F.col("lsn").isNull(), F.lit("failed:null_lsn"))
            .when(F.col("op").isNull(), F.lit("failed:null_op"))
            .otherwise(F.concat(F.lit("failed:bad_op:"), F.col("op")))
        )
        out = os.path.join(self.table.root, "_quarantine", f"b{batch_id:05d}")
        (
            bad.withColumn("_status", reason)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(out)
        )

    def _quarantine_missing_updates(
        self, events: DataFrame, num_buckets: int, batch_id: int
    ) -> tuple[DataFrame, int]:
        """update_missing='quarantine': U events whose key has no live
        incumbent and no same-batch insert are quarantined pre-resolution."""
        key = ["conv_id", "turn_idx"]
        with_p = events.withColumn(PART_COL, partition_expr(num_buckets))
        touched = [r[0] for r in with_p.select(PART_COL).distinct().collect()]
        live_keys = (
            self.table.read(partitions=touched).select(*key).distinct()
        )
        insert_keys = events.filter(F.col("op") == "I").select(*key).distinct()
        ok_keys = live_keys.unionByName(insert_keys).distinct()
        missing = events.filter(F.col("op") == "U").join(ok_keys, key, "left_anti")
        n = missing.count()
        if n:
            out = os.path.join(
                self.table.root, "_quarantine", f"b{batch_id:05d}-missing-updates"
            )
            missing.withColumn("_status", F.lit("failed:update_of_missing_key")).write.mode(
                "overwrite"
            ).parquet(out)
            events = events.join(
                missing.select("lsn"), "lsn", "left_anti"
            )
        return events, n

    def quarantine_df(self) -> DataFrame | None:
        qdir = os.path.join(self.table.root, "_quarantine")
        if not os.path.isdir(qdir) or not os.listdir(qdir):
            return None
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(qdir, "*")
        )
