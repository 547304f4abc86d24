"""Config surface: memory-derived chunk target (reference
src/util.rs:97-101) and the zstd-level knob (src/util.rs:35-37)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from osm_pbf_parquet_spark.config import (
    MAX_CHUNK,
    MIN_CHUNK,
    EncodeConfig,
    derive_chunk_target,
    parse_mem,
)


def test_parse_mem():
    assert parse_mem("4g") == 4 << 30
    assert parse_mem("512m") == 512 << 20
    assert parse_mem("1024") == 1024
    assert parse_mem("2G") == 2 << 30
    with pytest.raises(ValueError):
        parse_mem("lots")


def test_derive_chunk_target_bounds(spark):
    t = derive_chunk_target(spark)
    assert MIN_CHUNK <= t <= MAX_CHUNK


def test_encode_config_resolution(spark):
    assert EncodeConfig(target_chunk_bytes=7 << 20).resolved_chunk_bytes(spark) == 7 << 20
    assert MIN_CHUNK <= EncodeConfig().resolved_chunk_bytes(spark) <= MAX_CHUNK


def test_zstd_level_changes_payload_and_roundtrips():
    from osm_pbf_parquet_spark.functions.codecs import decode_array, encode_array

    arr = pa.array(
        [f"document {i % 7} with repetitive content " * 20 for i in range(2000)]
    )
    _, p1, pay1 = encode_array(arr, "str_zstd", zstd_level=1)
    _, p9, pay9 = encode_array(arr, "str_zstd", zstd_level=9)
    assert len(pay9) <= len(pay1)
    assert decode_array("str_zstd", p1, pay1).equals(arr)
    assert decode_array("str_zstd", p9, pay9).equals(arr)


def test_zstd_level_through_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    from osm_pbf_parquet_spark.operators.encode import (
        decode_dataframe,
        encode_dataframe,
    )

    src = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "props")
    sizes = {}
    for level in (1, 19):
        ch = encode_dataframe(
            src, key_col="event_id", num_partitions=2,
            codecs={"props": "str_zstd"}, zstd_level=level,
        )
        sizes[level] = ch.filter("column = 'props'").agg(F.sum("bytes_out")).first()[0]
        dec = decode_dataframe(ch, src.schema)
        assert dec.count() == src.count()
    assert sizes[19] <= sizes[1]


def test_decode_task_bytes_env_parse(monkeypatch):
    from osm_pbf_parquet_spark.config import derive_decode_task_bytes

    monkeypatch.delenv("SPARK_GRAFT_DECODE_TASK_BYTES", raising=False)
    assert derive_decode_task_bytes(None) == 8 << 20
    monkeypatch.setenv("SPARK_GRAFT_DECODE_TASK_BYTES", "4194304")
    assert derive_decode_task_bytes(None) == 4 << 20
    monkeypatch.setenv("SPARK_GRAFT_DECODE_TASK_BYTES", "8MB")
    with pytest.raises(ValueError, match=r"SPARK_GRAFT_DECODE_TASK_BYTES.*'8MB'"):
        derive_decode_task_bytes(None)


class _Conf:
    def __init__(self, value):
        self.value = value

    def get(self, key, default=None):
        if isinstance(self.value, Exception):
            raise self.value
        return default if self.value is None else self.value


class _Session:
    def __init__(self, value):
        self.conf = _Conf(value)


@pytest.mark.parametrize("value,enabled", [
    (None, True),  # unset: Spark's default
    ("true", True),
    ("TRUE", True),
    (" True ", True),
    ("false", False),
    ("FALSE", False),
    (RuntimeError("conf unavailable"), True),
])
def test_aqe_enabled_reads_conf_case_insensitively(value, enabled):
    from osm_pbf_parquet_spark.config import aqe_enabled

    assert aqe_enabled(_Session(value)) is enabled

