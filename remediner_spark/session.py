"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what a 1000-executor cluster submit would
set: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow enabled for all pandas-UDF traffic, shuffle
partition count sized to the parallelism, and a bounded Arrow batch
size so pandas-UDF stages see model-batch-sized chunks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from remediner_spark import workerd

# the directory or zip the package imports from: the daemon module must
# import before any task adds a --py-files archive to a worker's path
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(workerd.__file__)))


def get_spark(
    app_name: str = "remediner-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # int64 micros, not the deprecated INT96: Iceberg's required
        # timestamp representation, and INT96 columns carry NO footer
        # min/max stats — which would silently disable data skipping
        # on every timestamp column (sources/table.py stats pruning)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import pyspark from its byte-compiled install
        # when it is identical to pyspark.zip (workerd.py)
        .config("spark.python.daemon.module", workerd.__name__)
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A driver-side row list as a DataFrame planned as a JVM
    ``LocalRelation``. ``createDataFrame(<rows>)`` plans a Python-RDD
    scan instead, so every action on it runs Python-worker tasks, and an
    EMPTY pandas frame falls back to that row path; an Arrow table never
    does (with no rows it is ``to_arrow_schema(schema).empty_table()``).
    ``schema`` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def release_caches(spark: SparkSession) -> int:
    """Unpersist every cached DataFrame and persisted RDD in the
    session; returns how many RAW RDD persists were dropped (SQL-cache
    entries are cleared wholesale and not counted).

    Operators cache deliberately at branch points (graph.build_graph,
    dedup shingles) and leave the cache live because the CALLER may
    still consume the branches. In a long-lived session that accretes:
    executor storage fills with dead blocks and later, unrelated jobs
    pay GC/eviction for them (the round-3 bench-wall creep). Call this
    once every consumer of the current query's outputs has finished —
    never between an operator and its actions (localCheckpoint lineage
    truncation makes recompute impossible, not just slow)."""
    n = 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdd_ids = list(jmap.keys())
    spark.catalog.clearCache()  # SQL cache manager (df.cache/persist)
    for rid in rdd_ids:  # raw RDD persists (localCheckpoint et al.)
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(True)
            n += 1
    return n
