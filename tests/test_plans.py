"""Physical-plan assertions — the scale claims, checked against Catalyst.

These tests pin the plan *shape*, not timings: the fused merge moves data
across the network exactly once; pruned reads list only manifest-selected
files; filters and column pruning reach the Parquet scan.
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_pipeline_has_single_exchange(spark, tmp_path):
    """Events ∪ incumbent → repartition → two windows → filter: ONE
    Exchange; the windows run inside the repartition's clustering."""
    from pyspark.sql import Window
    from image_report_spark.plans.icelite import PART_COL, partition_expr

    gen = ChangeLogGenerator(seed=50, n_convs=30, max_turns=5, n_batches=1)
    log = str(tmp_path / "log")
    gen.write_log(log)
    ev = spark.read.parquet(f"{log}/batch-00000.parquet")
    evt = (
        ev.withColumn(PART_COL, partition_expr(8))
        .select(
            PART_COL, "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.col("lsn").alias("_lsn"), F.col("op").alias("_op"),
        )
        .withColumn("_src", F.lit(1))
        .withColumn("_salt", F.lit(0))
    )
    # cold path: salt is lit(0) → repartition on the bucket alone (the
    # engine does the same; a literal in hashpartitioning would defeat the
    # window's clustering-subset satisfaction and buy a second Exchange)
    u = evt.repartition(F.col(PART_COL))
    keyw = Window.partitionBy(PART_COL, "_salt", "conv_id", "turn_idx")
    order = keyw.orderBy(
        F.col("ts").desc_nulls_last(), F.col("_lsn").desc_nulls_last(),
        F.col("_src").asc(),
    )
    ranked = (
        u.withColumn("_rn", F.row_number().over(order))
        .withColumn(
            "_replay",
            F.when(F.lag("_lsn").over(order).eqNullSafe(F.col("_lsn")), 1).otherwise(0),
        )
        .withColumn(
            "_inc_live",
            F.max(F.when((F.col("_src") == 0) & (F.col("_op") != "D"), 1).otherwise(0)).over(keyw),
        )
        .filter(F.col("_rn") == 1)
    )
    plan = _explain(ranked)
    # formatted explain lists each physical node once in the tree and once
    # in the detail section — count distinct Exchange NODES
    n_exchanges = len(set(re.findall(r"\(\d+\) Exchange", plan)))
    assert n_exchanges == 1, plan  # the windows add sorts, never exchanges


def _capture_writes(monkeypatch) -> list:
    """Every frame the engine hands to ``IceliteTable.write_partition_files``
    (the COW merge's ``to_write``), captured on its way to the real write."""
    from image_report_spark.plans.icelite import IceliteTable

    frames = []
    real = IceliteTable.write_partition_files

    def spy(self, df, *a, **kw):
        frames.append(df)
        return real(self, df, *a, **kw)

    monkeypatch.setattr(IceliteTable, "write_partition_files", spy)
    return frames


def _shuffle_exchanges(plan: str) -> list[str]:
    # shuffle Exchange nodes only (the dedup-window anti-join may add a
    # BroadcastExchange, which moves the small LSN set, not the rows)
    return re.findall(r"(?<![A-Za-z])Exchange (.*)", plan)


def _insert_batch(log: str, batch_id: int, convs: range) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(log, exist_ok=True)
    ts0 = pd.Timestamp("2026-01-01T00:00:00")
    rows = [
        dict(lsn=batch_id * 1000 + i, op="I", conv_id=f"c{c:08d}", turn_idx=0,
             role="user", text=f"t{c}", tool=None, ts=ts0)
        for i, c in enumerate(convs)
    ]
    schema = pa.schema([
        ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
        ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows), schema=schema, preserve_index=False),
        os.path.join(log, f"batch-{batch_id:05d}.parquet"),
    )


@pytest.mark.parametrize("shuffle_partitions", [3, 32])
def test_engine_merge_exchange_is_numbered(spark, tmp_path, monkeypatch, shuffle_partitions):
    """The engine's OWN merge frame (not a copy of it): one shuffle
    Exchange, ``hashpartitioning(_p, n)`` with an explicit count, so AQE
    can never coalesce the merge into fewer write tasks than
    ``n = min(shuffle_partitions, #touched buckets)``."""
    gen = ChangeLogGenerator(seed=52, n_convs=60, max_turns=5, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    eng = CdcEngine.init(
        spark, str(tmp_path / "t"), str(tmp_path / "cp"),
        config=EngineConfig(num_buckets=8, shuffle_partitions=shuffle_partitions),
    )
    frames = _capture_writes(monkeypatch)
    reports = eng.run(log)
    assert len(frames) == len(reports) == 2
    r = reports[1]  # merges against incumbents
    assert r.partitions_touched > 3 and r.partitions_appended == 0
    n = min(shuffle_partitions, r.partitions_touched)
    plan = _executed_plan(frames[1])
    ex = _shuffle_exchanges(plan)
    assert len(ex) == 1, plan
    assert re.match(rf"hashpartitioning\(_p#\d+, {n}\), REPARTITION_BY_NUM", ex[0]), ex


def test_insert_only_merge_schedules_no_empty_scan(spark, tmp_path, monkeypatch):
    """An all-append batch reads no incumbent: its merge is the events
    alone through the numbered exchange, with no empty-RDD scan (which
    used to cost one empty Python-worker task per default-parallelism
    slot)."""
    log = str(tmp_path / "log")
    _insert_batch(log, 0, range(16))
    _insert_batch(log, 1, range(16, 32))  # keys above every zone map
    eng = CdcEngine.init(
        spark, str(tmp_path / "t"), str(tmp_path / "cp"),
        config=EngineConfig(num_buckets=8, shuffle_partitions=8),
    )
    frames = _capture_writes(monkeypatch)
    r0, r1 = eng.run(log)
    assert r1.partitions_appended == r1.partitions_touched > 0
    for r, df in ((r0, frames[0]), (r1, frames[1])):
        plan = _executed_plan(df)
        assert "Scan ExistingRDD" not in plan, plan
        ex = _shuffle_exchanges(plan)
        assert len(ex) == 1, plan
        n = min(8, r.partitions_touched)
        assert re.match(rf"hashpartitioning\(_p#\d+, {n}\), REPARTITION_BY_NUM", ex[0]), ex


def test_pruned_read_lists_only_touched_files(spark, tmp_path):
    gen = ChangeLogGenerator(seed=51, n_convs=60, max_turns=5, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    eng = CdcEngine.init(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                         config=EngineConfig(num_buckets=8))
    eng.run(log)
    all_files = set(eng.read().inputFiles())
    pruned = eng.table.read(partitions=[0, 1], with_lineage=True)
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < all_files  # strictly fewer files even reach the scan
    manifest = {e["partition"]: e for e in eng.table.snapshot()["manifest"]}
    expected = {f for p in (0, 1) for f in manifest[p]["files"]}
    assert len(pruned_files) == len(expected)
    for f in pruned_files:
        assert any(f.endswith(rel) for rel in expected), f


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    plan = _explain(q)
    assert "PushedFilters" in plan and "l_orderkey" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the scan reads only the two referenced columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read_schema and "l_extendedprice" not in read_schema


def test_broadcast_join_chosen_for_small_dim(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _explain(j)


def test_resolution_plan_stays_jvm_side(spark):
    """LWW expressions: no Python nodes; rank-1 filter gets the partial
    WindowGroupLimit pushdown (pre-shuffle top-k per key)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").selectExpr(
        "user_id as conv_id", "cast(event_id % 8 as int) as turn_idx",
        "ts", "event_id as lsn"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.desc("ts"), F.desc("lsn"))
    q = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    plan = _explain(q)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # Spark 4 pushes a partial top-k below the shuffle for rank-1 filters
    assert "WindowGroupLimit" in plan


def test_range_self_join_is_bucket_bounded(spark):
    """q4's interval self-join must key the join on (user_id, bkt) — the
    time bucket bounds pairs per task, so one hot user can't quadratically
    explode a single task at scale."""
    import __spark_entry__ as entry_mod

    q = entry_mod.q4_range_self_join(spark, "/root/testdata/sf0.001")
    plan = _explain(q)
    # the equi-join keys include BOTH user_id and the time bucket; the
    # interval predicate is a post-join filter, not a nested-loop condition
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    keys_section = plan.split("Left keys")[1].split("Right keys")[0] if "Left keys" in plan else plan
    assert "bkt" in keys_section and "user_id" in keys_section
