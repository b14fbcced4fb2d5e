"""Parquet reads take Spark's schema from the footer.

``read_parquet`` builds the schema Spark's inference would give from the
parquet footer (``footer_schema``) and hands it to ``spark.read.schema``.
Inference reads the same footer in a Spark job per file, so with the footer
schema a read, ``load_tables`` and the parquet fixture builds start no job.
The schema must equal what inference gives, or the plans and results of
every query over the file could change.
"""

import datetime
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from qurious_spark.queries.multimodal import (
    PPM_MEDIA_PATH,
    WAV_MEDIA_PATH,
    write_ppm_fixture,
    write_wav_fixture,
)
from qurious_spark.queries.sources import write_uint_fixture
from qurious_spark.sources.readers import TPCH_TABLES, footer_schema, load_tables, read_parquet
from tests.conftest import SF_SMOKE, job_ids
from tests.test_readers_ns import TS, write_int96_part_file

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.fixture(scope="module")
def parquet_files(spark, tmp_path_factory) -> dict[str, str]:
    """Every kind of parquet file the repo reads, by name."""
    d = tmp_path_factory.mktemp("footer")
    files = {t: os.path.join(SF_SMOKE, f"{t}.parquet") for t in TPCH_TABLES}
    files["uint"] = write_uint_fixture(str(d / "uint.parquet"))
    write_ppm_fixture()
    write_wav_fixture()
    files["ppm"], files["wav"] = PPM_MEDIA_PATH, WAV_MEDIA_PATH
    for name, unit, tz in (("ns", "ns", None), ("tz_utc", "us", "UTC")):
        files[name] = str(d / f"{name}.parquet")
        pq.write_table(pa.table({"id": [1, 2, 3], "ts": pa.array(TS, pa.timestamp(unit, tz))}), files[name])
    files["int96"] = write_int96_part_file(spark, str(d / "int96"))
    files["ns_list"] = str(d / "ns_list.parquet")
    pq.write_table(pa.table({"id": [1], "tss": pa.array([TS], pa.list_(pa.timestamp("ns")))}), files["ns_list"])
    return files


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_schema_equals_inference(spark, parquet_files, ntz):
    before = spark.conf.get(NTZ)
    spark.conf.set(NTZ, ntz)
    try:
        kinds = set()
        for name, path in parquet_files.items():
            schema = footer_schema(spark, pq.read_metadata(path))
            assert schema == spark.read.parquet(path).schema, name
            kinds |= {f.dataType.simpleString() for f in schema.fields}
    finally:
        spark.conf.set(NTZ, before)
    # the conf reached the tz-naive columns, and the other timestamp kinds
    # were in the set: tz-aware, INT96, and ns (read as bigint)
    assert ("timestamp_ntz" in kinds) == (ntz == "true")
    assert "timestamp" in kinds and "decimal(20,0)" in kinds and "array<float>" in kinds


def test_uncovered_type_falls_back_to_inference(spark, tmp_path):
    path = str(tmp_path / "duration.parquet")
    pq.write_table(pa.table({"d": pa.array([1, None], pa.duration("us"))}), path)
    with pytest.raises(TypeError):
        footer_schema(spark, pq.read_metadata(path))
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    # a directory has no footer of its own: Spark lists it and infers
    assert read_parquet(spark, str(tmp_path)).count() == 2


@pytest.mark.parametrize(
    "name, arrow_type, shown",
    [("at", pa.time64("us"), "time64[us]"), ("ats", pa.list_(pa.time32("ms")), "list<element: time32[ms]>")],
    ids=["time64", "list_time32"],
)
def test_time_column_raises_naming_it(spark, tmp_path, name, arrow_type, shown):
    """Spark reads no parquet TIME; inference would die at the scan with
    PARQUET_TYPE_ILLEGAL, not naming the column."""
    path = str(tmp_path / "time.parquet")
    value = [1000] if pa.types.is_list(arrow_type) else 1000
    pq.write_table(pa.table({"id": [1], name: pa.array([value], arrow_type)}), path)
    with pytest.raises(ValueError, match=re.escape(f"'{name}' ({shown})")):
        read_parquet(spark, path)


def test_load_tables_starts_no_job(spark):
    with job_ids(spark, "footer-schema:load_tables") as ids:
        views = load_tables(spark, SF_SMOKE)
    assert len(views) == len(TPCH_TABLES)
    assert ids == []


@pytest.mark.parametrize(
    "name", ["source_uint_parquet", "multimodal_image_features", "multimodal_audio_features"]
)
def test_parquet_fixture_build_starts_no_job(spark, name):
    import qurious_spark.queries as q

    q.load_all()
    q.ensure_views(spark, SF_SMOKE)
    with job_ids(spark, f"footer-schema:{name}") as ids:
        q.REGISTRY[name](spark, SF_SMOKE)
    assert ids == []

