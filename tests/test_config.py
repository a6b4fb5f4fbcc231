"""Config-algebra tests — graft of the reference's selector identities
(tests/test_hashing_config.py:43-64) — and the engine's independence from
environment variables."""

import os
from dataclasses import asdict

import pyarrow.parquet as pq
import pytest

from image_report_spark.config import (
    ALL_METRICS,
    BASIC_METRICS,
    METRIC_CATEGORIES,
    EngineConfig,
    get_selected_metrics,
)


def test_defaults():
    assert get_selected_metrics(None) == BASIC_METRICS
    assert get_selected_metrics("") == BASIC_METRICS
    assert get_selected_metrics("basic") == BASIC_METRICS


def test_all_none():
    assert get_selected_metrics("all") == ALL_METRICS
    assert get_selected_metrics("none") == set()


def test_union_of_categories():
    got = get_selected_metrics("counts,timing")
    assert got == METRIC_CATEGORIES["counts"] | METRIC_CATEGORIES["timing"]


def test_single_metric_and_exclusion():
    assert get_selected_metrics("wall_ms") == {"wall_ms"}
    got = get_selected_metrics("counts,-applied")
    assert "applied" not in got and "deduped" in got


def test_all_negative_complements_from_all():
    got = get_selected_metrics("-histogram")
    assert got == ALL_METRICS - METRIC_CATEGORIES["histogram"]


def test_unknown_token_raises():
    with pytest.raises(ValueError):
        get_selected_metrics("nonexistent_metric")


def test_exclusion_of_category_after_union():
    got = get_selected_metrics("all,-checksum")
    assert got == ALL_METRICS - METRIC_CATEGORIES["checksum"]


def test_engine_config_validation():
    with pytest.raises(ValueError):
        EngineConfig(on_error="explode")
    with pytest.raises(ValueError):
        EngineConfig(update_missing="nope")
    with pytest.raises(ValueError):
        EngineConfig(num_buckets=0)
    assert EngineConfig(metrics="all").selected_metrics == ALL_METRICS


#: environment variables earlier versions read in product code, each set
#: to a non-default value
_FORMER_KNOBS = {
    "SPARK_GRAFT_COW_TWO_STREAM": "0",
    "SPARK_GRAFT_MERGE_SHARDS": "1",
    "SPARK_GRAFT_ROWHASH": "canonical",
    "SPARK_GRAFT_ZSTD_LEVEL": "19",
    "SPARK_GRAFT_DATA_CODEC": "snappy",
    "SPARK_GRAFT_PARQUET_DICT": "true",
    "SPARK_GRAFT_PAGE_CRC": "false",
    "IRS_TIMING": "1",
}


def _page_header_has_crc(buf: bytes) -> bool:
    """Whether a thrift-compact-encoded parquet PageHeader carries its
    optional ``crc`` (field 4). Fields 1-3 are required i32 varints."""
    pos = fid = 0
    while True:
        b = buf[pos]
        pos += 1
        fid += b >> 4
        if b == 0 or fid > 4:
            return False
        if fid == 4:
            return True
        while buf[pos] & 0x80:
            pos += 1
        pos += 1


def test_engine_ignores_environment(spark, tmp_path, monkeypatch):
    from image_report_spark.engine import TRANSCRIPT_SCHEMA
    from image_report_spark.plans.icelite import IceliteTable, physical_schema

    for k in _FORMER_KNOBS:
        monkeypatch.delenv(k, raising=False)
    defaults = asdict(EngineConfig())
    for k, v in _FORMER_KNOBS.items():
        monkeypatch.setenv(k, v)
    assert asdict(EngineConfig()) == defaults
    assert EngineConfig().rowhash_mode == "typed"

    # data files keep the default codec, dictionary and page-CRC settings
    t = IceliteTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA)
    # repeated values, so a column with dictionary encoding enabled keeps
    # its dictionary instead of falling back to plain
    rows = [
        (0, f"c{i % 5}", i, "user", f"text {i % 3}", None, None, i, "I")
        for i in range(50)
    ]
    files = t.write_partition_files(
        spark.createDataFrame(rows, physical_schema(TRANSCRIPT_SCHEMA)), 0
    )
    path = os.path.join(t.root, files[0][0])
    rg = pq.ParquetFile(path).metadata.row_group(0)
    cols = {rg.column(i).path_in_schema: rg.column(i) for i in range(rg.num_columns)}
    assert {c.compression for c in cols.values()} == {"ZSTD"}
    # dictionary off for payload columns, on for the low-cardinality ones
    assert not cols["text"].has_dictionary_page
    assert not cols["conv_id"].has_dictionary_page
    assert cols["role"].has_dictionary_page
    with open(path, "rb") as f:
        for c in cols.values():
            f.seek(c.dictionary_page_offset if c.has_dictionary_page else c.data_page_offset)
            assert _page_header_has_crc(f.read(64)), c.path_in_schema
