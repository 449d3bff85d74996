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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .operators.ner import extract_triples_stage


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    return (
        spark.readStream.schema(spark.read.parquet(pages_dir).schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def stream_edge_weights(
    spark: SparkSession,
    pages_dir: str,
    table_path: str,
    checkpoint_dir: str,
    tagger_bc,
    lang: str = "en",
    n_buckets: int = 8,
):
    """Continuously-maintained KG edge table: incremental MERGE of each
    micro-batch's edge deltas into an Iceberg-style table.

    The pattern a production deployment runs as ``MERGE INTO`` on
    Iceberg/Delta, realized here on sources/table.py's format:

    * the edge table is partitioned by ``bucket = pmod(xxhash64(subj),
      n_buckets)``;
    * each micro-batch aggregates its triples to per-edge deltas, reads
      ONLY the touched buckets from the current snapshot (manifest
      pruning — untouched partitions are never opened), merges
      (weight := sum, first_seen := min), and commits the rewritten
      buckets with ``mode='replace_partitions'`` — one new snapshot per
      micro-batch, so the edge table is time-travelable across batches;
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
    """
    merge_batch = edge_merge_fn(spark, table_path, checkpoint_dir, n_buckets)
    pages = stream_pages(spark, pages_dir).filter(F.col("lang") == lang)
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

    ``deltas_of(batch_df)`` gives the batch's rows in the table's
    column order (bucket excluded); rows sharing ``group_cols`` fold
    with ``merge_aggs``. A batch id at or below the last one committed
    under ``scope`` is a redelivery and does nothing. Otherwise only
    the touched buckets are read (manifest-pruned), unioned with the
    deltas, re-aggregated and committed as ONE replace_partitions
    snapshot whose properties carry the (scope, batch_id) marker — data
    and marker land in the same atomic commit."""
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
            # ONE file per touched bucket: without the explicit count
            # the agg's shuffle_partitions fan out to ~32 files per
            # bucket per commit (measured 256 tiny files/batch), and
            # every later batch pays their footer reads + scan planning.
            # Repartitioning BEFORE the groupBy makes it the merge's
            # only shuffle: hash placement on bucket, one of the
            # grouping keys, already satisfies the aggregation's
            # distribution.
            merged = (
                (deltas if current is None else deltas.unionByName(current))
                .repartition(len(touched), "bucket")
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
    stream instance (the checkpoint location in production). A batch's
    triples become per-edge deltas (weight = count, first_seen = min
    warc_ts), bucketed on subj and merged by weight := sum,
    first_seen := min."""

    def deltas_of(batch_df):
        return batch_df.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("warc_ts").alias("first_seen"),
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
    graph. Same machinery as edge_merge_fn, bucketed on src_url and
    merged by n_links := sum; per-batch cost scales with the DELTA's
    bucket footprint, never the accumulated table."""
    from .operators.linkgraph import link_graph

    return _bucketed_merge_fn(
        spark, table_path, scope, n_buckets, link_graph, "src_url",
        ["src_url", "dst_url"], [F.sum("n_links").alias("n_links")],
    )
