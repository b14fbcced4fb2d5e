"""Compaction: rewrite many small files into few sorted ones.

The small-files problem is the silent killer of 100 TB layouts: a streaming
sink or over-parallel batch write leaves thousands of KB-sized parquet files
per partition, and every later scan pays per-file open/footer/scheduling
cost. Compaction is a maintenance pass: read the layout, repartition to a
target file size, optionally range-sort so min/max row-group statistics
become selective (the poor man's clustering — queries filtering on the sort
key skip whole files), write back.

Beyond-reference scope (the reference has no file sinks at all —
SURVEY.md §2.2 lists none besides INSERT into MemoryTable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``src_path`` (parquet) into ``dst_path`` with ``target_files``
    output files (estimated from input bytes / ``target_file_bytes`` when not
    given). With ``sort_cols``, data is range-partitioned AND sorted within
    files on those columns, so parquet min/max stats prune files for
    predicates on the leading sort column. Returns the file count written.

    Never collects rows: sizing uses filesystem metadata only; the rewrite
    is one repartition(-by-range) exchange.
    """
    df = spark.read.parquet(src_path)
    if target_files is None:
        total = _input_bytes(spark, src_path)
        target_files = max(1, int(total // target_file_bytes) + (1 if total % target_file_bytes else 0))
    if sort_cols:
        out = df.repartitionByRange(target_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(target_files)
    out.write.mode("overwrite").parquet(dst_path)
    return len(_parquet_files(spark, dst_path))


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) key column over numeric columns.

    Each column is rank-normalized into ``2**bits`` buckets using ONE
    approx-quantile pass (driver receives ``2**bits - 1`` cut points per
    column — constant-size, never row data), then the bucket indices are
    bit-interleaved with shiftleft/or expressions (pure JVM codegen, no
    UDF). Rank buckets — not min/max-uniform ones — keep the key balanced
    under skew, so repartitionByRange on it yields even files.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.approxQuantile(cols, probs, 0.001)

    def bucket(col: str, boundaries: list[float]):
        # index = number of boundaries <= value; O(2^bits) comparisons per
        # row inside codegen — bits=8 → 255 branch-free terms
        arr = ", ".join(f"CAST('{float(b)!r}' AS DOUBLE)" for b in boundaries)
        return F.expr(
            f"aggregate(array({arr}), 0, "
            f"(acc, b) -> acc + CASE WHEN CAST(`{col}` AS DOUBLE) >= b THEN 1 ELSE 0 END)"
        )

    idx = [bucket(c, cuts[i]) for i, c in enumerate(cols)]
    key = F.lit(0).cast("long")
    for bit in range(bits):
        for j, v in enumerate(idx):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(v.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + j,
                )
            )
    return key


def compact_zorder(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    zorder_cols: list[str],
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 8,
) -> int:
    """Compaction with Z-order clustering: files are range-partitioned and
    sorted on the interleaved key, so parquet min/max statistics stay tight
    on EVERY clustered column — predicates on any of them prune files,
    where a linear sort only prunes on its leading column. Same
    metadata-only sizing as :func:`compact`."""
    df = spark.read.parquet(src_path)
    if target_files is None:
        total = _input_bytes(spark, src_path)
        target_files = max(
            1, int(total // target_file_bytes) + (1 if total % target_file_bytes else 0)
        )
    key = zorder_key(df, zorder_cols, bits=bits)
    out = (
        df.withColumn("__zkey", key)
        .repartitionByRange(target_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    out.write.mode("overwrite").parquet(dst_path)
    return len(_parquet_files(spark, dst_path))


def _input_bytes(spark: SparkSession, path: str) -> int:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    return fs.getContentSummary(p).getLength()


def _parquet_files(spark: SparkSession, path: str) -> list[str]:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    files = []
    while it.hasNext():
        f = it.next().getPath().toString()
        if f.endswith(".parquet"):
            files.append(f)
    return files
