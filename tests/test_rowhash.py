"""The typed row-hash mode (EngineConfig.rowhash_mode, round-6 GC
optimization): same table content as canonical mode, internally
consistent digests, and the null-position property the typed sentinels
exist for."""

from __future__ import annotations

import datetime
import decimal

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine, _checksum_cols_id
from image_report_spark.fixtures import ChangeLogGenerator
from image_report_spark.functions.digests import typed_row_digest

from tests.test_partstats import _events_df


def _build(spark, tmp_path, name, **cfg):
    eng = CdcEngine.init(
        spark,
        str(tmp_path / name / "tbl"),
        str(tmp_path / name / "cp"),
        config=EngineConfig(num_buckets=4, **cfg),
    )
    eng.apply_batch(_events_df(spark), 0)
    return eng


def test_typed_and_canonical_same_content_consistent_digests(spark, tmp_path):
    a = _build(spark, tmp_path, "typed", rowhash_mode="typed")
    b = _build(spark, tmp_path, "canon", rowhash_mode="canonical")
    # identical table content
    cols = sorted(set(a.read().columns) & set(b.read().columns))
    assert a.read().select(cols).exceptAll(b.read().select(cols)).count() == 0
    assert b.read().select(cols).exceptAll(a.read().select(cols)).count() == 0
    # each table is internally consistent: a from-scratch replay under the
    # SAME frozen mode reproduces the digest
    assert a.table.snapshot()["rowhash_mode"] == "typed"
    assert b.table.snapshot()["rowhash_mode"] == "canonical"
    # the two definitions produce different manifests (the mode is real)
    da = a.table.snapshot()["table_digest"]
    db = b.table.snapshot()["table_digest"]
    assert da is not None and db is not None and da != db


def test_typed_mode_reverify_matches_stored(spark, tmp_path):
    # reverify recomputes from disk under the snapshot's frozen mode — it
    # must agree with the stored-tier checksums of a typed table
    a = _build(spark, tmp_path, "stored", rowhash_mode="typed")
    r = _build(
        spark, tmp_path, "reverify", rowhash_mode="typed",
        partstats_mode="reverify",
    )
    la = {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"])
        for e in a.table.snapshot()["manifest"]
    }
    lr = {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"])
        for e in r.table.snapshot()["manifest"]
    }
    assert la == lr


def test_typed_digest_null_position_distinct(spark):
    # typed sentinels make a NULL contribute at its position: swapping a
    # value across adjacent nullable columns must change the hash (a bare
    # xxhash64 over the raw columns would skip the NULL and collide)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"x": ["v", None], "y": [None, "v"]},
        ),
        schema="x string, y string",
    )
    h = [
        r["h"]
        for r in df.select(typed_row_digest(df, ["x", "y"]).alias("h")).collect()
    ]
    assert h[0] != h[1]


def test_ck_id_tags_mode(spark):
    cols = ["conv_id", "text"]
    assert _checksum_cols_id(cols, "canonical") == _checksum_cols_id(cols)
    assert _checksum_cols_id(cols, "typed") != _checksum_cols_id(cols, "canonical")
    # canonical keeps the pre-mode id format (8 hex chars, no tag)
    assert len(_checksum_cols_id(cols)) == 8



#: (column type, the type's zero value) for the NULL-sentinel sweep
_ZERO_VALUES = [
    ("tinyint", 0),
    ("smallint", 0),
    ("int", 0),
    ("bigint", 0),
    ("decimal(10,2)", decimal.Decimal("0.00")),
    ("date", datetime.date(1970, 1, 1)),
    ("timestamp", datetime.datetime(1970, 1, 1)),
    ("timestamp_ntz", datetime.datetime(1970, 1, 1)),
    ("binary", bytearray(b"")),
    ("string", ""),
]
_VALUE_COLS = ["a", "b", "c"]


@pytest.mark.parametrize("ansi", [True, False], ids=["ansi", "no_ansi"])
@pytest.mark.parametrize("dtype,zero", _ZERO_VALUES, ids=[t for t, _ in _ZERO_VALUES])
def test_typed_hash_null_differs_from_zero(spark, tmp_path, dtype, zero, ansi):
    """Every column type merges under the typed hash with ANSI on and off,
    and a NULL at any column position hashes differently from the type's
    zero value there."""
    schema = StructType.fromDDL(
        "conv_id string, turn_idx int, ts timestamp, "
        + ", ".join(f"{c} {dtype}" for c in _VALUE_COLS)
    )
    ts0 = datetime.datetime(2026, 1, 1)
    # row k holds NULL at value position k, zeros elsewhere; the last row
    # is all zeros
    rows = [
        [f"c{k}", 0, ts0] + [None if j == k else zero for j in range(len(_VALUE_COLS))]
        for k in range(len(_VALUE_COLS) + 1)
    ]
    event_schema = StructType.fromDDL("lsn bigint, op string").fields + schema.fields
    b0 = [[i, "I"] + r for i, r in enumerate(rows)]
    # batch 1 updates the all-zero row, so the merge reads an incumbent
    b1 = [[100, "U", rows[-1][0], 0, ts0 + datetime.timedelta(seconds=1)] + rows[-1][3:]]
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        eng = CdcEngine.init(
            spark, str(tmp_path / "tbl"), str(tmp_path / "cp"), schema=schema,
            config=EngineConfig(num_buckets=2, rowhash_mode="typed"),
        )
        for bid, batch in enumerate((b0, b1)):
            rpt = eng.apply_batch(
                spark.createDataFrame(batch, StructType(event_schema)), bid
            )
            assert rpt.conservation_ok()
        df = eng.read()
        h = {
            r["conv_id"]: r["h"]
            for r in df.select(
                "conv_id", typed_row_digest(df, _VALUE_COLS).alias("h")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert len(h) == len(rows)
    all_zero = h[f"c{len(_VALUE_COLS)}"]
    for k in range(len(_VALUE_COLS)):
        assert h[f"c{k}"] != all_zero, f"NULL == zero at position {k}"


def test_replay_verify_keeps_canonical_mode_without_checksum_columns(
    spark, tmp_path
):
    """A canonical-mode table whose snapshot has no ``checksum_columns``
    (created before the column set was frozen) replays under its own hash
    definition, whatever the verifying engine's configured mode."""
    log = str(tmp_path / "log")
    ChangeLogGenerator(seed=5, n_convs=20, max_turns=4, n_batches=2).write_log(log)
    root, cp = str(tmp_path / "tbl"), str(tmp_path / "cp")
    eng = CdcEngine.init(
        spark, root, cp,
        config=EngineConfig(num_buckets=4, rowhash_mode="canonical"),
    )
    snap = eng.table.snapshot()
    del snap["checksum_columns"]
    eng.table._write_snapshot(snap)
    eng.run(log)
    assert "checksum_columns" not in eng.table.snapshot()
    verifier = CdcEngine(spark, root, cp, EngineConfig(num_buckets=4))
    assert verifier.config.rowhash_mode == "typed"
    report = verifier.replay_verify(log, str(tmp_path / "scratch"))
    assert report["ok"], report

if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
