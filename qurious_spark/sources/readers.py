"""File readers.

Spark analogues of the reference's eager file loaders
(qurious/src/datasource/file/{csv,json,parquet}.rs) — except ours stay LAZY:
``spark.read.*`` builds a scan plan with predicate pushdown / column pruning /
partition parallelism, instead of materializing the whole file in memory.
That is the core scale decision: at 100 TB a table is a parquet scan with
pushed filters, never an in-memory copy.
"""

from __future__ import annotations

import itertools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_like(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    quote: str = '"',
    escape: str = '"',
    schema=None,
    multiline: bool = False,
) -> DataFrame:
    """CSV reader with the reference's option surface
    (qurious/src/datasource/file/csv.rs:16-72: has_header/delimiter/quote/
    escape, schema inference). ``multiline`` enables quoted embedded
    newlines — off by default because multiLine files cannot be split
    across tasks (each file parses in one task)."""
    reader = (
        spark.read.option("header", str(bool(header)).lower())
        .option("sep", delimiter or ",")
        .option("quote", quote)
        .option("escape", escape)
        .option("multiLine", str(bool(multiline)).lower())
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet reader that takes its schema from the footer and tolerates
    nanosecond timestamps.

    The footer is read on the driver with pyarrow (metadata only, fine at
    any scale) and turned into the schema Spark's own inference would give
    (``footer_schema``), which is handed to ``spark.read.schema``. Inference
    reads the same footer in a Spark job, so this read starts no job. A path
    pyarrow cannot open as one file (a directory or a glob), or a footer
    with a type ``footer_schema`` does not cover, is read with inference.

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` a physical INT64
    TIMESTAMP(NANOS) column arrives as long nanos-since-epoch, and is
    converted to a timestamp inside the plan via ``timestamp_micros`` so
    everything stays lazy and JVM-side: a top-level column directly, a list
    of them element-wise. A nanos timestamp nested anywhere else (a struct,
    a map, a list of lists) would come back as silent epoch-nanos bigints,
    so it raises ``TypeError`` naming the column. A TIME column raises
    ``footer_schema``'s ``ValueError``. The conf is set HERE, at
    runtime (verified runtime-settable), so the tolerance holds on any
    SparkSession, not just ones built by our own get_spark helper.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(path)
        fields = _fields(meta)
    except Exception:
        return spark.read.parquet(path)
    # INT96 also surfaces as arrow timestamp[ns], but Spark reads it as a
    # timestamp: only the physical INT64 NANOS columns are nanos
    nano_cols: dict[str, str] = {}
    for field, leaves in fields:
        if not any(_timestamp_unit(c) == "nanoseconds" for c in leaves):
            continue
        if pa.types.is_timestamp(field.type):
            nano_cols[field.name] = "timestamp_micros({} div 1000)"
        elif _is_list(field.type) and pa.types.is_timestamp(field.type.value_type):
            nano_cols[field.name] = "transform({}, x -> timestamp_micros(x div 1000))"
        else:
            raise TypeError(
                f"parquet column {field.name!r} ({field.type}) nests a nanosecond "
                "timestamp; only a top-level column or a list of them is converted"
            )
    if nano_cols:
        # Without this a vanilla session throws "Illegal Parquet type: INT64
        # (TIMESTAMP(NANOS,..))" at scan time.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        reader = spark.read.schema(footer_schema(spark, meta))
    except TypeError:
        reader = spark.read
    df = reader.parquet(path)
    if not nano_cols:
        return df
    from qurious_spark.session import _ident

    # integer division: double division would lose precision on epoch-nanos
    # (~1.7e18 > 2^53) and round the microsecond up
    return df.selectExpr(
        *(
            f"{nano_cols[c].format(_ident(c))} AS {_ident(c)}" if c in nano_cols else _ident(c)
            for c in df.columns
        )
    )


# Spark keeps the schema it wrote under this footer key, and its inference
# takes the key's schema over the parquet types when it is there.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_ARROW_TO_SPARK = {
    "bool": BooleanType(),
    "int8": ByteType(),
    "int16": ShortType(),
    "int32": IntegerType(),
    "int64": LongType(),
    # Spark has no unsigned types: each goes up one range
    "uint8": ShortType(),
    "uint16": IntegerType(),
    "uint32": LongType(),
    "uint64": DecimalType(20, 0),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "large_string": StringType(),
    "date32[day]": DateType(),
    "date64[ms]": DateType(),
}


def footer_schema(spark: SparkSession, meta) -> StructType:
    """The schema ``spark.read.parquet`` infers for the file whose footer
    is ``meta`` (``pyarrow.parquet.read_metadata``), built on the driver.

    The rules are Spark's: a file Spark wrote carries its schema under
    ``_SPARK_SCHEMA_KEY``; otherwise each column maps by type, unsigned
    integers go up one range, a tz-naive timestamp follows
    ``spark.sql.parquet.inferTimestampNTZ.enabled``, INT96 is a timestamp,
    INT64 TIMESTAMP(NANOS) is a bigint (``nanosAsLong``), and
    un-annotated binary follows ``spark.sql.parquet.binaryAsString``.
    Every field is nullable. A timestamp inside a list takes the rule of its
    leaf. Raises ``ValueError`` naming a column that holds a TIME value,
    which Spark cannot read at all (its inference fails at the scan with
    PARQUET_TYPE_ILLEGAL), and ``TypeError`` for another type these rules
    do not cover (duration, float16, a timestamp inside a struct or map,
    ...)."""
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return StructType.fromJson(_all_nullable(json.loads(spark_json)))
    fields = _fields(meta)
    for f, leaves in fields:
        if any(c.logical_type.type == "TIME" for c in leaves):
            raise ValueError(
                f"parquet column {f.name!r} ({f.type}) holds a TIME value, which Spark cannot read"
            )
    return StructType(
        [
            StructField(f.name, _spark_type(spark, f.type, leaves[0] if len(leaves) == 1 else None))
            for f, leaves in fields
        ]
    )


def _all_nullable(node):
    """Spark's ``asNullable`` on a schema's JSON form."""
    if isinstance(node, list):
        return [_all_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    flags = ("nullable", "containsNull", "valueContainsNull")
    return {k: True if k in flags else v if k == "metadata" else _all_nullable(v) for k, v in node.items()}


def _fields(meta) -> list[tuple]:
    """(arrow field, its parquet leaf columns) for each top-level field.
    Parquet stores the leaves depth-first in schema order, so each field
    takes as many as its type has."""
    cols = iter(meta.schema.column(i) for i in range(meta.num_columns))
    fields = [(f, list(itertools.islice(cols, _leaf_count(f.type)))) for f in meta.schema.to_arrow_schema()]
    if next(cols, None) is not None or any(not leaves for _, leaves in fields):
        raise ValueError("parquet leaf columns do not match the arrow schema")
    return fields


def _leaf_count(t) -> int:
    import pyarrow as pa

    if pa.types.is_struct(t):
        return sum(_leaf_count(f.type) for f in t)
    if pa.types.is_map(t):
        return _leaf_count(t.key_type) + _leaf_count(t.item_type)
    if _is_list(t):
        return _leaf_count(t.value_type)
    return 1


def _is_list(t) -> bool:
    import pyarrow as pa

    return pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t)


def _timestamp_unit(leaf) -> str | None:
    """``milliseconds``/``microseconds``/``nanoseconds`` for an INT64
    timestamp leaf, else None."""
    if leaf.physical_type != "INT64" or leaf.logical_type.type != "TIMESTAMP":
        return None
    return json.loads(leaf.logical_type.to_json())["timeUnit"]


def _conf_on(spark: SparkSession, key: str) -> bool:
    return spark.conf.get(key).lower() == "true"


def _spark_type(spark: SparkSession, t, leaf) -> DataType:
    """Spark type of arrow type ``t``; ``leaf`` is its parquet column when
    the top-level field has one leaf (a primitive or a list of them), else
    None."""
    import pyarrow as pa

    if str(t) in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[str(t)]
    if pa.types.is_dictionary(t):
        return _spark_type(spark, t.value_type, leaf)
    if pa.types.is_decimal128(t):
        return DecimalType(t.precision, t.scale)
    if str(t) in ("binary", "large_binary"):
        return StringType() if _conf_on(spark, "spark.sql.parquet.binaryAsString") else BinaryType()
    if pa.types.is_timestamp(t) and leaf is not None:
        if leaf.physical_type == "INT96":
            return TimestampType()
        unit = _timestamp_unit(leaf)
        if unit == "nanoseconds":
            return LongType()
        if unit is not None:
            utc = json.loads(leaf.logical_type.to_json())["isAdjustedToUTC"]
            if utc or not _conf_on(spark, "spark.sql.parquet.inferTimestampNTZ.enabled"):
                return TimestampType()
            return TimestampNTZType()
    if _is_list(t):
        return ArrayType(_spark_type(spark, t.value_type, leaf), True)
    if pa.types.is_map(t):
        return MapType(_spark_type(spark, t.key_type, None), _spark_type(spark, t.item_type, None), True)
    if pa.types.is_struct(t):
        return StructType([StructField(f.name, _spark_type(spark, f.type, None)) for f in t])
    raise TypeError(f"no footer rule for parquet column type {t}")


def read_auto(spark: SparkSession, path: str, **options) -> DataFrame:
    """Dispatch by file suffix (csv / json / parquet / tbl)."""
    lower = path.lower()
    if lower.endswith(".parquet") or lower.endswith(".pq"):
        return read_parquet(spark, path)
    if lower.endswith(".json") or lower.endswith(".ndjson"):
        return spark.read.json(path)
    if lower.endswith(".tbl"):
        return read_csv_like(spark, path, delimiter="|", header=False, **options)
    return read_csv_like(spark, path, **options)


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Load the driver-generated parquet tables at ``sf_dir`` and register
    each as a temp view. Missing files are skipped (sf dirs may not carry
    every table)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_parquet(spark, path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
