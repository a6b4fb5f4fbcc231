"""Engine configuration + metric-selector algebra.

The selector algebra grafts the reference's hash-selection grammar
(``get_selected_hashes``, reference ``hashing_config.py:531-585``): a
comma-separated spec where bare names/categories include (set union),
``-name`` excludes (set difference), ``all`` selects everything, ``none``
selects nothing, and an all-negative spec means "complement from ALL".
Here the selectable items are per-batch lineage *metrics* instead of image
hashes — cheap ledger columns the engine computes and records per batch.
"""

from __future__ import annotations

from dataclasses import InitVar, dataclass, field


# --- metric registry (analog of ALL_HASHES, reference hashing_config.py:507-509) ---

METRIC_CATEGORIES: dict[str, set[str]] = {
    # conservation-ledger counts (graft of report-schema-v2.md:116-137)
    "counts": {
        "events_read", "applied", "deduped", "superseded", "quarantined",
        "rows_before", "inserts", "updates", "deletes", "rows_after",
    },
    # content digests (graft of the reference's hash family, hashing_config.py:446-509)
    "checksum": {"partition_checksum", "table_digest"},
    # timings (graft of duration_sec attributes, reference ir:218-221,347-353)
    "timing": {"wall_ms", "phase_ms"},
    # per-batch op histogram (graft of histogram agg, hashing_config.py:71-79)
    "histogram": {"op_histogram"},
}

ALL_METRICS: set[str] = set().union(*METRIC_CATEGORIES.values())

#: the default selection ("basic") — counts + checksums + timing
BASIC_METRICS: set[str] = (
    METRIC_CATEGORIES["counts"] | METRIC_CATEGORIES["checksum"] | METRIC_CATEGORIES["timing"]
)


def get_selected_metrics(spec: str | None) -> set[str]:
    """Resolve a selector spec to a set of metric names.

    Grammar (graft of reference ``hashing_config.py:531-585``):

    - ``None`` / ``""`` / ``"basic"`` → :data:`BASIC_METRICS`
    - ``"all"`` → every registered metric
    - ``"none"`` → empty set
    - comma-separated tokens: a bare token adds a metric or a whole
      category; a ``-`` prefix removes it
    - a spec containing *only* negative tokens starts from ALL
      (complement semantics, as in the reference)

    Unknown tokens raise ``ValueError`` (the reference logs-and-ignores;
    we fail fast — config errors should not be silent in a pipeline).
    """
    if spec is None or spec.strip() in ("", "basic"):
        return set(BASIC_METRICS)
    tokens = [t.strip() for t in spec.split(",") if t.strip()]
    if tokens == ["all"]:
        return set(ALL_METRICS)
    if tokens == ["none"]:
        return set()

    positives = [t for t in tokens if not t.startswith("-")]
    negatives = [t[1:] for t in tokens if t.startswith("-")]

    def expand(token: str) -> set[str]:
        if token == "all":
            return set(ALL_METRICS)
        if token == "basic":
            return set(BASIC_METRICS)
        if token in METRIC_CATEGORIES:
            return set(METRIC_CATEGORIES[token])
        if token in ALL_METRICS:
            return {token}
        raise ValueError(f"unknown metric or category: {token!r}")

    if positives:
        selected: set[str] = set()
        for t in positives:
            selected |= expand(t)
    else:
        # all-negative spec → complement from ALL (reference semantics)
        selected = set(ALL_METRICS)
    for t in negatives:
        selected -= expand(t)
    return selected


@dataclass
class EngineConfig:
    """Tunables for the CDC apply path.

    Defaults are sized for the sandbox (``local[32]``); on a real cluster
    ``num_buckets`` and ``shuffle_partitions`` scale with executor count.
    """

    #: number of hash buckets the target table is partitioned into
    #: (partition column ``p = pmod(xxhash64(conv_id), num_buckets)``)
    num_buckets: int = 32

    #: upper bound on the merge exchange's task count (COW and MOR): the
    #: merge repartitions to ``min(shuffle_partitions, #touched buckets +
    #: #hot buckets × (skew_salt − 1))`` tasks, an explicit count that AQE
    #: never coalesces (left to AQE, a small batch's exchange was
    #: coalesced into a single write task). Other stages take
    #: ``spark.sql.shuffle.partitions``.
    shuffle_partitions: int = 32

    #: failure policy (graft of continue_on_error, reference ir:500-506):
    #: "quarantine" routes malformed events to a quarantine sink and commits;
    #: "fail" aborts the batch (no manifest commit → atomicity preserved)
    on_error: str = "quarantine"

    #: how an update of a missing key is handled: "upsert" (insert it) or
    #: "quarantine"
    update_missing: str = "upsert"

    #: metric selector spec (see get_selected_metrics)
    metrics: str = "basic"

    #: change events per conv_id above which the key is considered hot and
    #: salted before wide stages (salt = pmod(xxhash64(turn_idx), skew_salt))
    hot_key_threshold: int = 100_000

    #: number of salt values for hot keys
    skew_salt: int = 16

    #: use the applyInPandas per-conversation ordered-apply resolver instead
    #: of the window-function resolver (semantically identical; the grouped
    #: path exists for stateful per-conversation extensions)
    grouped_resolve: bool = False

    #: manifest format version (graft of the v2 16-bit-ceiling escape hatch,
    #: reference docs/report-schema-v2.md:96-105)
    format_version: int = 1

    #: physical merge strategy. "cow" (copy-on-write, default): a touched
    #: partition is fully rewritten each batch — reads stay scan-only, the
    #: right trade for read-heavy tables. "mor" (merge-on-read): the batch
    #: writes only resolved DELTA files per partition and defers the merge
    #: to read time / compaction — at 100 TB an update-heavy batch touching
    #: a few rows per partition writes KBs instead of rewriting TBs (the
    #: Iceberg-v2 / Hudi trade). Ledger semantics are IDENTICAL in both
    #: modes: MOR classifies its delta winners against the incumbent via a
    #: keys-only column-pruned scan (conv_id, turn_idx, ts, lsn, op — a few
    #: %% of table bytes when payloads are text) semi-joined down to the
    #: delta's keys, so applied/superseded/deduped/ins/upd/del and the
    #: conservation equations match copy-on-write batch for batch.
    write_mode: str = "cow"

    #: copy-on-write APPEND fast-path. A touched partition whose batch
    #: slice is pure inserts (every event op == 'I', no NULL merge key)
    #: and whose key range is strictly disjoint from the incumbent's is
    #: APPENDED instead of rewritten: the batch's resolved winners land in
    #: a new file, the incumbent files carry forward in the manifest
    #: verbatim, and the partition's lineage stats combine exactly (the
    #: checksum is an order-independent ``bit_xor`` of per-row hashes, so
    #: ``old XOR new`` equals what a full rewrite would store; guarded by
    #: a per-entry checksum-column-set id so a schema evolution can never
    #: combine hashes computed over different column sets). Insert-heavy
    #: streams go from O(table-rewrite) per batch to O(batch): a bulk load
    #: of N batches writes each row once instead of N/2 times.
    #:
    #: Disjointness is proven on METADATA alone: the per-partition key
    #: [lo, hi] zone map stored in the manifest vs the batch bucket's key
    #: range from the prepass, so the check costs zero extra Spark jobs.
    #: Monotonic insert keys (auto-increment ids, snowflakes, event time —
    #: the classic CDC insert pattern) append; any range overlap, even of
    #: disjoint key sets, takes the normal rewrite. False forces full
    #: rewrites.
    cow_append_fastpath: bool = True

    #: The frozen benchmark harness (perfbench/run.py) still passes these
    #: two retired knobs (the merge-proven append tier and exact shard
    #: placement); they are accepted and ignored.
    cow_two_stream: InitVar[bool] = True
    merge_exact_shards: InitVar[bool] = False

    #: MOR classification join strategy gate: when the batch's VALID event
    #: count (an upper bound on its distinct key count, free from the
    #: bucket pre-pass) is at or below this, the delta key set and the
    #: pruned incumbent are broadcast (tiny batches classify with zero
    #: wide shuffles); above it the classification falls back to a
    #: shuffled semi-join + sort-merge join — a 10–100 M-event initial
    #: load must degrade to a shuffle, not hit the 8 GB broadcast /
    #: driver-memory wall. 2 M keys ≈ 100–150 MB broadcast of
    #: (conv_id, turn_idx) rows — comfortably inside executor memory at
    #: either scale.
    mor_broadcast_key_limit: int = 2_000_000

    #: MOR auto-compaction policy: after a MOR batch commits, any touched
    #: partition whose accumulated delta bytes exceed this fraction of its
    #: base bytes is compacted partition-locally in the same apply call
    #: (round-3 measurement: a dirty partition read costs ~3.4× a
    #: compacted one — 2.4 s vs 0.7 s — so unbounded delta accumulation
    #: quietly converts the MOR write win into a read loss). ``None``
    #: (default) leaves compaction manual/scheduled — the right default
    #: for bulk loads where a single ``compact()`` at the end beats many
    #: incremental ones; set ~0.2–0.5 for continuously-tailed tables.
    mor_compact_delta_ratio: float | None = None

    #: how the post-write per-partition lineage stats (counts, last LSN,
    #: order-independent checksum) are computed. "stored" (default): the
    #: per-row checksum hash is computed INSIDE the merge pipeline and
    #: persisted in the written files, so the stats read-back is a narrow
    #: scan of four fixed-width columns — at 100 TB the write path does
    #: not re-read every payload byte it just wrote. "reverify": recompute
    #: the hash from the on-disk payload bytes — a bit-level end-to-end
    #: write integrity check for low-trust storage (the pre-round-5
    #: behavior; 15-25% of apply wall at sf0.1). Checksums are identical
    #: in both modes (tests/test_partstats.py).
    partstats_mode: str = "stored"

    #: in "stored" mode, when a batch touches at most this many partitions
    #: the per-partition live-row count and checksum ride the WRITE JOB
    #: ITSELF as conditional ``observe()`` aggregates (``count`` and
    #: ``bit_xor`` of the row hash, 2 per touched partition, evaluated on
    #: every merged row), and row count, max LSN and the conv_id zone map
    #: come from the written files' Parquet footers — zero extra Spark job,
    #: and the row hash is not stored. Above the limit (wide tables with
    #: thousands of buckets, where per-partition observe expressions would
    #: bloat the plan) the narrow file read-back of the stored row hash is
    #: used instead, which stays O(partitions) with fixed-width bytes. 0
    #: disables the observe tier entirely.
    partstats_observe_limit: int = 64

    #: "stored"-mode read-back size gate: when a batch's freshly written
    #: data files total at most this many bytes, the narrow stats
    #: read-back runs DRIVER-side with arrow (a few MB of fixed-width
    #: column chunks — the same magnitude of driver I/O as the per-commit
    #: file renames and manifest JSON) instead of paying a Spark job's
    #: fixed scheduling latency (~0.2-0.3 s/batch) to read it. Above the
    #: limit — cluster-scale batches — the distributed read-back runs
    #: unchanged. All tiers produce identical stats
    #: (tests/test_partstats.py). 0 disables the driver tier.
    partstats_driver_bytes_limit: int = 128 * 1024 * 1024

    #: per-row checksum hash definition for NEW tables, frozen into the
    #: snapshot at create (like ``checksum_columns``) so every tier —
    #: stored/observe/driver read-back, reverify, MOR compact, replay
    #: verify — hashes identically for the table's whole lifetime.
    #: "typed" (default): xxhash64 over native typed columns with typed
    #: NULL sentinels (functions/digests.py:typed_row_digest), with no
    #: per-row cast-strings or concat buffer (~200 B of garbage per
    #: written row in the GC-bound merge stage, BENCH/rowhash_probe.py).
    #: "canonical": the original
    #: string-canonicalized form. Snapshots without ``rowhash_mode``
    #: (tables created before the mode existed) read as canonical, and the
    #: per-entry ``ck_id`` tags the mode so append-path xor-combines never
    #: mix definitions.
    rowhash_mode: str = "typed"

    selected_metrics: set[str] = field(init=False, repr=False)

    def __post_init__(
        self, cow_two_stream: bool, merge_exact_shards: bool
    ) -> None:
        if self.on_error not in ("quarantine", "fail"):
            raise ValueError(f"on_error must be quarantine|fail, got {self.on_error!r}")
        if self.write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be cow|mor, got {self.write_mode!r}")
        if self.write_mode == "mor" and self.grouped_resolve:
            raise ValueError(
                "write_mode='mor' supports the window resolver only "
                "(grouped_resolve pre-drops events the MOR ledger "
                "classification would need to re-attribute)"
            )
        if self.write_mode == "mor" and self.update_missing == "quarantine":
            raise ValueError(
                "write_mode='mor' requires update_missing='upsert' (the "
                "missing-key probe reads base files only and would not see "
                "pending delta files)"
            )
        if self.update_missing not in ("upsert", "quarantine"):
            raise ValueError(
                f"update_missing must be upsert|quarantine, got {self.update_missing!r}"
            )
        if self.partstats_mode not in ("stored", "reverify"):
            raise ValueError(
                f"partstats_mode must be stored|reverify, got {self.partstats_mode!r}"
            )
        if self.partstats_observe_limit < 0:
            raise ValueError("partstats_observe_limit must be >= 0")
        if self.rowhash_mode not in ("typed", "canonical"):
            raise ValueError(
                f"rowhash_mode must be typed|canonical, got {self.rowhash_mode!r}"
            )
        if self.num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if self.shuffle_partitions < 1:
            raise ValueError("shuffle_partitions must be >= 1")
        if self.mor_broadcast_key_limit < 0:
            raise ValueError("mor_broadcast_key_limit must be >= 0")
        if self.mor_compact_delta_ratio is not None and not (
            self.mor_compact_delta_ratio > 0
        ):
            raise ValueError("mor_compact_delta_ratio must be > 0 or None")
        self.selected_metrics = get_selected_metrics(self.metrics)
