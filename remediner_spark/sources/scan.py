"""Parquet scan with a parallelism floor for small inputs.

The driver's sf tables are single parquet files written with one row
group per ~1M rows (pandas defaults), so Spark's byte-range splitting
(`spark.sql.files.maxPartitionBytes`, 128 MB) yields ONE scan task for
a 15 MB / 50k-row documents table — and every expression evaluated
before the first exchange (shingling, md5 hashing, regex scoring,
vector math) runs on one core of a 32-core host. Measured: the whole
dedup/decontaminate family was map-side single-task at sf1.0
(decontaminate_bloom 26.4 s -> 3.4 s once parallelized).

`scan_parquet` restores the scan parallelism the same data would have
had as a multi-file table: when the input's estimated split count is
below the session's default parallelism it round-robin repartitions the
raw rows (the exchange carries only the input bytes — cheap by
construction, since the trigger condition bounds them at
cores x maxPartitionBytes). At production scale the input produces
plenty of splits and this is a no-op — the floor is scale-adaptive,
not a local[32] constant (guide §6.1: `spark.sql.files.minPartitionNum`
is the same idea, but byte-range splits cannot divide a single-row-
group file, so the floor must be an explicit shuffle here).

The floor fails closed: an input it cannot size is read plain. A blind
round-robin of an input of unknown size could shuffle a 100 TB table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_DEFAULT_MAX_SPLIT = 128 * 1024 * 1024


def _input_bytes(spark: SparkSession, path: str) -> int | None:
    """Bytes under ``path`` (a file or a directory tree), from Hadoop's
    ``FileSystem.getContentSummary`` on the session's Hadoop
    configuration — the same filesystem layer the read goes through,
    so every scheme the session can read (file://, hdfs://, s3a://) is
    sized. None when it cannot be sized (unknown scheme, a glob, a
    missing path)."""
    jvm = spark.sparkContext._jvm
    try:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return fs.getContentSummary(hpath).getLength()
    except Exception:  # py4j errors and the pyspark-converted JVM ones
        return None


def _max_split_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(_DEFAULT_MAX_SPLIT)
    )
    try:
        return int(str(raw).lower().rstrip("b"))
    except ValueError:
        return _DEFAULT_MAX_SPLIT


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with a floor on map-side parallelism.

    Use for tables whose per-row downstream work dominates the scan
    (documents / embeddings expression chains). The repartition keeps
    results identical for every consumer in this repo: no operator
    depends on partition ids or row order (aggregations order
    explicitly; floats are rounded inside the queries)."""
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    nbytes = _input_bytes(spark, path)
    if nbytes is None:
        return df
    est_splits = max(1, nbytes // _max_split_bytes(spark))
    if est_splits < target:
        df = df.repartition(target)
    return df
