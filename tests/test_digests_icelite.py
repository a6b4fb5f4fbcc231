"""Unit tests for the digest functions and the Icelite table layer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from image_report_spark.functions.digests import (
    partition_checksums,
    row_digest,
    row_digest_sha2,
    table_digest,
)
from image_report_spark.plans.icelite import IceliteTable, partition_expr, physical_schema
from image_report_spark.engine import TRANSCRIPT_SCHEMA


def test_row_digest_order_independence_of_partition_checksum(spark):
    df = spark.createDataFrame(
        [("a", 0, "x"), ("b", 1, "y"), ("c", 2, "z")],
        "conv_id string, turn_idx int, text string",
    ).withColumn("p", F.lit(0))
    fwd = partition_checksums(df, "p", ["conv_id", "turn_idx", "text"]).first()
    rev = partition_checksums(
        df.orderBy(F.desc("conv_id")).coalesce(1), "p", ["conv_id", "turn_idx", "text"]
    ).first()
    assert fwd["checksum"] == rev["checksum"]
    assert fwd["row_count"] == 3


def test_row_digest_distinguishes_null_from_empty(spark):
    df = spark.createDataFrame([("a", None), ("a", "")], "k string, v string")
    h = df.select(row_digest(df, ["k", "v"]).alias("h")).collect()
    assert h[0]["h"] != h[1]["h"]
    s = df.select(row_digest_sha2(df, ["k", "v"]).alias("s")).collect()
    assert s[0]["s"] != s[1]["s"]


def test_table_digest_sorted_and_sensitive():
    a = table_digest([(0, 5, "aa"), (1, 3, "bb")])
    b = table_digest([(1, 3, "bb"), (0, 5, "aa")])
    assert a == b  # order-independent
    assert a != table_digest([(0, 5, "aa"), (1, 4, "bb")])


def test_partition_expr_stable_and_in_range(spark):
    df = spark.createDataFrame([(f"c{i}",) for i in range(500)], "conv_id string")
    p = df.select(partition_expr(16).alias("p"))
    stats = p.agg(F.min("p"), F.max("p"), F.countDistinct("p")).first()
    assert stats[0] >= 0 and stats[1] <= 15 and stats[2] == 16


def test_icelite_create_commit_atomicity(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t = IceliteTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    assert t.current_version() == 0
    assert t.read().count() == 0
    with pytest.raises(FileExistsError):
        IceliteTable.create(spark, root, TRANSCRIPT_SCHEMA)
    # a commit that carries nothing forward still advances the pointer
    sid = t.commit({}, TRANSCRIPT_SCHEMA, batch_id=0, ledger={"x": 1})
    assert sid == 1 and t.current_version() == 1
    assert t.snapshot(0)["manifest"] == []  # time travel to v0 still works


def test_icelite_partition_pruned_read(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t = IceliteTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    phys = physical_schema(TRANSCRIPT_SCHEMA)
    rows = [
        (p, f"c{p}", 0, "user", f"t{p}", None, None, 1, "I") for p in range(4)
    ]
    df = spark.createDataFrame(rows, phys)
    files = t.write_partition_files(df, batch_id=0)
    assert set(files) == {0, 1, 2, 3}
    replaced = {
        p: {"files": files[p], "row_count": 1, "live_rows": 1,
            "checksum": "00", "last_applied_lsn": 1}
        for p in files
    }
    t.commit(replaced, TRANSCRIPT_SCHEMA, 0, None)
    pruned = t.read(partitions=[2], with_lineage=True)
    assert pruned.count() == 1 and pruned.first()["conv_id"] == "c2"
    # the pruned scan reads exactly one file (metadata-level pruning)
    assert len(pruned.inputFiles()) == 1
    assert t.read().count() == 4


def test_zstd_level_is_scoped_to_the_table_write(spark, tmp_path):
    """The data-file zstd level is a writer option: a table write leaves
    the session's Hadoop configuration (every other Parquet write) alone,
    and the option overrides whatever level that configuration holds —
    the same batch writes byte-identical files with the session at level
    19 as without it."""
    import hashlib

    from image_report_spark.engine import CdcEngine
    from image_report_spark.fixtures import ChangeLogGenerator

    key = "parquet.compression.codec.zstd.level"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    log = str(tmp_path / "log")
    ChangeLogGenerator(seed=53, n_convs=40, max_turns=6, n_batches=1).write_log(log)

    def files(name: str) -> dict:
        eng = CdcEngine.init(spark, str(tmp_path / name), str(tmp_path / f"{name}-cp"))
        eng.run(log)
        return {
            e["partition"]: [
                hashlib.sha1(open(os.path.join(eng.table.root, f), "rb").read()).hexdigest()
                for f in e["files"]
            ]
            for e in eng.table.snapshot()["manifest"]
        }

    hconf.unset(key)
    try:
        plain = files("plain")
        assert hconf.get(key) is None
        hconf.set(key, "19")
        at19 = files("session19")
        assert hconf.get(key) == "19"
    finally:
        hconf.unset(key)
    assert plain and plain == at19
