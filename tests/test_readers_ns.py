"""Nanosecond-parquet tolerance must not depend on session construction,
nor on whether the file is read through ``read_parquet`` or the SQL
``read_parquet('…')`` table function.

The reference loads parquet eagerly with whatever types Arrow hands it
(qurious/src/datasource/file/parquet.rs:9-17); Spark instead REJECTS
INT64(TIMESTAMP(NANOS)) columns unless spark.sql.legacy.parquet.nanosAsLong
is set. read_parquet must set that conf itself at runtime so a vanilla
SparkSession (one not built by our get_spark) still reads ns-typed files.
"""

import datetime
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from qurious_spark import Session
from qurious_spark.sources.readers import read_parquet

TS = [
    datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
    datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    None,
]


@pytest.fixture()
def ns_parquet(tmp_path):
    path = os.path.join(tmp_path, "ns_events.parquet")
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(TS, pa.timestamp("ns")),
        }
    )
    pq.write_table(table, path)
    return path


def read_sql_table_function(spark, path):
    """The SQL ``read_parquet('…')`` table function; a bare
    ``spark.read.parquet`` there would return ts as bigint epoch-nanos."""
    return Session(spark).sql(f"SELECT * FROM read_parquet('{path}')")


@pytest.mark.parametrize("read", [read_parquet, read_sql_table_function], ids=["reader", "sql"])
def test_read_parquet_sets_nanos_conf_on_vanilla_session(spark, ns_parquet, read):
    # Simulate a session that never went through get_spark: drop the conf.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read(spark, ns_parquet)
        assert dict(df.dtypes)["ts"] == "timestamp"
        rows = {r.event_id: r.ts for r in df.collect()}
        assert rows[1] == TS[0]
        assert rows[2] == TS[1]
        assert rows[3] is None
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_read_parquet_plain_micros_untouched(spark, tmp_path):
    path = os.path.join(tmp_path, "us_events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(TS, pa.timestamp("us"))}), path
    )
    df = read_parquet(spark, path)
    # tz-naive micros map to timestamp_ntz (Spark 4); the point is that the
    # column passes through without the nanos conversion projection
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    assert [r.ts for r in df.orderBy("ts").collect()] == [None, TS[0], TS[1]]


def write_int96_part_file(spark, out_dir: str) -> str:
    """One-row timestamp frame written by Spark with its default
    ``outputTimestampType`` (INT96); the path of its single part file."""
    spark.sql("SELECT 1 AS id, TIMESTAMP'2024-01-01 12:00:00.123456' AS ts").coalesce(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    (part,) = glob.glob(os.path.join(out_dir, "part-*.parquet"))
    return part


def test_int96_is_not_nanos(spark, tmp_path):
    # pyarrow reports INT96 as timestamp[ns] too; only physical INT64 NANOS
    # columns take the nanos conversion
    part = write_int96_part_file(spark, str(tmp_path / "int96"))
    assert pq.read_metadata(part).schema.column(1).physical_type == "INT96"
    df = read_parquet(spark, part)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert [r.ts for r in df.collect()] == [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)]


def test_list_of_nanos_converts_element_wise(spark, tmp_path):
    # a list<timestamp[ns]> column used to come back as array<bigint>
    # epoch-nanos; each element now takes the top-level conversion
    path = str(tmp_path / "ns_list.parquet")
    pq.write_table(pa.table({"id": [1], "tss": pa.array([TS], pa.list_(pa.timestamp("ns")))}), path)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["tss"] == "array<timestamp>"
        assert [r.tss for r in df.collect()] == [TS]
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_deeper_nested_nanos_raises(spark, tmp_path):
    path = str(tmp_path / "ns_struct_list.parquet")
    inner = pa.struct([("at", pa.timestamp("ns"))])
    pq.write_table(pa.table({"id": [1], "evs": pa.array([[{"at": TS[0]}]], pa.list_(inner))}), path)
    with pytest.raises(TypeError, match="evs"):
        read_parquet(spark, path)
