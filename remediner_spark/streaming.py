"""Structured Streaming maintenance of the KG edge table.

A continuously-crawled corpus lands as a growing directory of page
files. ``stream_edge_weights`` runs the SAME fused extraction stage as
the batch job over ``readStream`` of that directory (mapInPandas —
Spark streams support arbitrary stateless transforms) and MERGEs each
micro-batch's edge deltas into an Iceberg-style table
(sources/table.py). `Trigger.AvailableNow` drains the backlog and
stops, which both bounds test runtime and models scheduled micro-batch
catch-up runs on a cluster. ``link_merge_fn`` applies the same
bucketed merge to the web link graph.

A micro-batch's fixed cost is Spark scheduling, not the Python stage,
so each trigger runs as few jobs and tasks as the merge needs: the
page schema is inferred once per stream instance and kept in the
checkpoint, the batch is aggregated once (by the merge itself), and
the merge's write runs in one wave of at most ``defaultParallelism``
tasks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from .operators.ner import extract_triples_stage
from .operators.text import filter_language


def stream_pages(spark: SparkSession, pages_dir: str,
                 checkpoint_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet files.

    The schema is inferred from the directory on a stream instance's
    first start (an empty directory raises) and stored in its
    checkpoint, written to a temp file and renamed; later starts read
    it back. Inference lists the directory and runs a footer-reading
    job, which every trigger-sized start would otherwise pay. It is
    inferred, not fixed: pandas-written pages carry ``timestamp_ntz``
    and Spark-written ones ``timestamp``, and reading either as the
    other moves ``warc_ts`` by the session zone's offset."""
    path = os.path.join(checkpoint_dir, "pages_schema.json")
    try:
        with open(path) as fh:
            schema = StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        schema = spark.read.parquet(pages_dir).schema
        os.makedirs(checkpoint_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(schema.jsonValue(), fh)
        os.replace(path + ".tmp", path)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def stream_edge_weights(
    spark: SparkSession,
    pages_dir: str,
    table_path: str,
    checkpoint_dir: str,
    tagger_bc,
    n_buckets: int = 8,
):
    """Continuously-maintained KG edge table: incremental MERGE of each
    micro-batch's edge deltas into an Iceberg-style table.

    The pattern a production deployment runs as ``MERGE INTO`` on
    Iceberg/Delta, realized here on sources/table.py's format:

    * the edge table is partitioned by ``bucket = pmod(xxhash64(subj),
      n_buckets)``;
    * each micro-batch reads ONLY its touched buckets from the current
      snapshot (manifest pruning — untouched partitions are never
      opened), aggregates its triples together with those rows in ONE
      groupBy (weight := sum of 1 per triple, first_seen := min
      warc_ts), and commits the rewritten buckets with
      ``mode='replace_partitions'`` — one new snapshot per micro-batch,
      so the edge table is time-travelable across batches;
    * replays are idempotent AND scoped: foreachBatch can re-deliver a
      batch after failure, so the last merged (scope, batch_id) rides
      INSIDE the snapshot record (write_table properties — one atomic
      manifest commit covers data + marker, so a crash between data
      and bookkeeping is impossible) and replays of the SAME stream
      instance are skipped. The scope is the checkpoint location —
      batch ids are only meaningful per checkpoint (Delta's txn appId
      convention): a new stream instance with a fresh checkpoint is
      new data and merges from its batch 0.

    At 10^12 docs the per-batch work scales with the DELTA (touched
    buckets), not the table: n_buckets rises so each bucket stays
    rewrite-sized, exactly like Iceberg bucket partitioning.

    The pages schema is inferred on the checkpoint's first start and
    read back from it afterwards (``stream_pages``), so a restart runs
    no Spark job before its first micro-batch.
    """
    merge_batch = edge_merge_fn(spark, table_path, checkpoint_dir, n_buckets)
    pages = filter_language(stream_pages(spark, pages_dir, checkpoint_dir))
    triples = extract_triples_stage(pages, tagger_bc)
    return (
        triples.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _last_merged_batch(table_path: str, scope: str) -> int:
    """Most recent snapshot carrying THIS scope's replay marker (other
    writers — other streams — may commit in between)."""
    from .sources.table import _load_snapshots

    for s in reversed(_load_snapshots(table_path)):
        props = s.get("properties") or {}
        if props.get("scope") == scope:
            return int(props["batch_id"])
    return -1


def _bucketed_merge_fn(spark: SparkSession, table_path: str, scope: str,
                       n_buckets: int, deltas_of, hash_col: str,
                       group_cols: list[str], merge_aggs: list):
    """foreachBatch merge of a micro-batch's deltas into a table
    partitioned by ``bucket = pmod(xxhash64(hash_col), n_buckets)``.

    ``deltas_of(batch_df)`` projects the batch's rows to the table's
    columns in its order (bucket excluded), unaggregated; rows sharing
    ``group_cols`` fold with ``merge_aggs``. A batch id at or below the
    last one committed under ``scope`` is a redelivery and does
    nothing. Otherwise the bucketed rows are persisted (the touched
    buckets are one small distinct over them), only the touched buckets
    are read (manifest-pruned), and deltas and current rows are
    aggregated together in ONE groupBy — the batch's only aggregation
    and the merge's only shuffle — then committed as ONE
    replace_partitions snapshot whose properties carry the
    (scope, batch_id) marker — data and marker land in the same atomic
    commit."""
    from .sources.table import read_table, write_table

    def merge_batch(batch_df, batch_id: int) -> None:
        if batch_id <= _last_merged_batch(table_path, scope):
            return  # redelivered micro-batch — already committed
        deltas = (
            deltas_of(batch_df)
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64(hash_col), F.lit(n_buckets)).cast("int"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            touched = sorted(
                r["bucket"] for r in deltas.select("bucket").distinct().collect()
            )
            if not touched:
                return
            try:
                current = read_table(
                    spark, table_path, partition_filter={"bucket": touched}
                ).withColumn("bucket", F.col("bucket").cast("int"))
            except FileNotFoundError:
                current = None
            # ONE file per touched bucket: hashing on bucket puts each
            # bucket in exactly one task (without an explicit count the
            # agg's shuffle_partitions fanned out to ~32 files per
            # bucket per commit). At most defaultParallelism tasks, so
            # the write runs in one wave. Repartitioning BEFORE the
            # groupBy makes it the merge's only shuffle: hash placement
            # on bucket, one of the grouping keys, already satisfies
            # the aggregation's distribution.
            n_out = min(len(touched), spark.sparkContext.defaultParallelism)
            merged = (
                (deltas if current is None else deltas.unionByName(current))
                .repartition(n_out, "bucket")
                .groupBy(*group_cols, "bucket")
                .agg(*merge_aggs)
                .select(*deltas.columns)
            )
            write_table(
                merged, table_path,
                mode="replace_partitions" if current is not None
                else "overwrite",
                partition_by=["bucket"],
                properties={"scope": scope, "batch_id": int(batch_id)},
            )
        finally:
            deltas.unpersist()

    return merge_batch


def edge_merge_fn(spark: SparkSession, table_path: str, scope: str,
                  n_buckets: int):
    """The foreachBatch merge for stream_edge_weights, factored out so
    tests can drive redelivery directly. ``scope`` identifies the
    stream instance (the checkpoint location in production). Each of a
    batch's triples is one delta row (weight = 1, first_seen =
    warc_ts), bucketed on subj and merged by weight := sum,
    first_seen := min."""

    def deltas_of(batch_df):
        return batch_df.select(
            "subj", "pred", "obj",
            F.lit(1).cast("long").alias("weight"),
            F.col("warc_ts").alias("first_seen"),
        )

    return _bucketed_merge_fn(
        spark, table_path, scope, n_buckets, deltas_of, "subj",
        ["subj", "pred", "obj"],
        [F.sum("weight").alias("weight"),
         F.min("first_seen").alias("first_seen")],
    )


def link_merge_fn(spark: SparkSession, table_path: str, scope: str,
                  n_buckets: int):
    """foreachBatch merge of a page micro-batch's LINK-GRAPH deltas
    into a materialized (src_url, dst_url, n_links) table — the
    production companion to dedup_incremental for the web graph: a
    daily crawl merges its delta edges instead of rebuilding the full
    graph. Same machinery as edge_merge_fn: each href occurrence is one
    delta row (n_links = 1), bucketed on src_url and merged by
    n_links := sum; per-batch cost scales with the DELTA's bucket
    footprint, never the accumulated table."""
    from .operators.linkgraph import extract_outlinks

    def deltas_of(batch_df):
        return extract_outlinks(batch_df).withColumn(
            "n_links", F.lit(1).cast("long")
        )

    return _bucketed_merge_fn(
        spark, table_path, scope, n_buckets, deltas_of, "src_url",
        ["src_url", "dst_url"], [F.sum("n_links").alias("n_links")],
    )
