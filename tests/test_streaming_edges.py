"""Streaming KG edge maintenance (streaming.stream_edge_weights):
foreachBatch MERGE into the Iceberg-style table. Checks:

* final table state == the batch edge aggregation over the same pages
  (multiple micro-batches force real cross-batch merges),
* one snapshot per merged micro-batch (time travel across batches),
* manifest pruning: a single-bucket filter opens only that bucket's
  files,
* replayed batch ids are no-ops (the exactly-once guard),
* the pages schema is inferred once per checkpoint and holds under a
  non-UTC session zone,
* the merge aggregates the batch once, in one write wave.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from remediner_spark.operators.ner import extract_triples_stage
from remediner_spark.operators.text import filter_language
from remediner_spark.sources.corpus import generate_pages
from remediner_spark.sources.table import read_table, table_snapshots
from remediner_spark.streaming import stream_edge_weights

N_BUCKETS = 4


@pytest.fixture(scope="module")
def tagger_bc(spark):
    from remediner_spark.plans.pipeline import default_tagger_bc

    return default_tagger_bc(spark)


def _write_pages_split(tmp_path, n_pages=120):
    pages, _ = generate_pages(n_pages)
    d = tmp_path / "pages_stream"
    os.makedirs(d, exist_ok=True)
    for i, chunk in enumerate(
        [pages.iloc[:40], pages.iloc[40:80], pages.iloc[80:]]
    ):
        chunk.to_parquet(d / f"part-{i}.parquet", index=False)
    return str(d), pages


def _batch_edges(spark, pages_dir, tagger_bc):
    """The batch path's edge aggregation over the same pages."""
    return (
        extract_triples_stage(
            filter_language(spark.read.parquet(pages_dir)), tagger_bc
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).alias("weight"),
            F.min("warc_ts").alias("first_seen"),
        )
    )


def test_stream_edges_match_batch(spark, tmp_path, tagger_bc):
    pages_dir, _ = _write_pages_split(tmp_path)
    table = str(tmp_path / "edges_table")
    ckpt = str(tmp_path / "ckpt_edges")

    q = stream_edge_weights(
        spark, pages_dir, table, ckpt, tagger_bc, n_buckets=N_BUCKETS
    )
    q.awaitTermination(120)

    # stream_pages caps files per trigger at 8 >= 3 files, but the
    # source may still split into multiple micro-batches; at least one
    # snapshot must exist and the LAST snapshot is the full state
    snaps = table_snapshots(table)
    assert len(snaps) >= 1
    # one merge file per touched bucket per commit (r5 fix: the agg's
    # shuffle fan-out used to land ~32 tiny files per bucket, and every
    # later batch paid their footer reads + scan planning)
    from remediner_spark.sources.table import _load_snapshots, _snap_files

    per_bucket: dict[str, int] = {}
    for f in _snap_files(table, _load_snapshots(table)[-1]):
        b = f["partition"]["bucket"]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert max(per_bucket.values()) == 1

    got = (
        read_table(spark, table)
        .select("subj", "pred", "obj", "weight", "first_seen")
        .toPandas()
        .sort_values(["subj", "obj"])
        .reset_index(drop=True)
    )
    want = (
        _batch_edges(spark, pages_dir, tagger_bc)
        .toPandas()
        .sort_values(["subj", "obj"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    got["weight"] = got["weight"].astype("int64")
    want["weight"] = want["weight"].astype("int64")
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)

    # manifest pruning: one bucket's filter scans a strict subset
    sel = read_table(spark, table, partition_filter={"bucket": 0})
    assert 0 < len(sel.inputFiles()) < len(read_table(spark, table).inputFiles())

    # restart: re-running against the same checkpoint with an
    # exhausted source produces no new batches and therefore no new
    # snapshots; the (scope, batch_id) marker rides in the snapshots
    from remediner_spark.sources.table import _load_snapshots, _snap_files

    last_props = _load_snapshots(table)[-1]["properties"]
    assert last_props["scope"] == ckpt and last_props["batch_id"] >= 0
    n_snaps = len(table_snapshots(table))
    q2 = stream_edge_weights(
        spark, pages_dir, table, ckpt, tagger_bc, n_buckets=N_BUCKETS
    )
    q2.awaitTermination(120)
    assert len(table_snapshots(table)) == n_snaps
    assert _load_snapshots(table)[-1]["properties"] == last_props


def test_replayed_batch_id_is_noop(spark, tmp_path, tagger_bc):
    """Direct exactly-once semantics, driven through the factored
    merge function: a redelivery (same scope, same batch_id) is a
    no-op; a DIFFERENT stream instance (new scope) is new data and
    merges — the guard must never eat a legitimate new stream."""
    from remediner_spark.streaming import edge_merge_fn

    pages_dir, _ = _write_pages_split(tmp_path, n_pages=40)
    table = str(tmp_path / "edges_replay")
    pages_df = filter_language(spark.read.parquet(pages_dir))
    batch = extract_triples_stage(pages_df, tagger_bc)

    merge_a = edge_merge_fn(spark, table, scope="ckpt-a", n_buckets=N_BUCKETS)
    merge_a(batch, 0)
    once = read_table(spark, table).agg(F.sum("weight")).collect()[0][0]
    merge_a(batch, 0)  # redelivered micro-batch
    assert (
        read_table(spark, table).agg(F.sum("weight")).collect()[0][0] == once
    )
    # a different stream instance's batch 0 is NEW data
    merge_b = edge_merge_fn(spark, table, scope="ckpt-b", n_buckets=N_BUCKETS)
    merge_b(batch, 0)
    assert (
        read_table(spark, table).agg(F.sum("weight")).collect()[0][0]
        == 2 * once
    )
    # and scope-a's guard survives scope-b's interleaved commits
    merge_a(batch, 0)
    assert (
        read_table(spark, table).agg(F.sum("weight")).collect()[0][0]
        == 2 * once
    )


def _node_names(plan) -> list[str]:
    """Node names of a physical plan; an AQE plan is read as planned
    (its input plan), since a materialized cache's executed plan hides
    the query stages' sub-plans."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    names = [plan.nodeName()]
    it = plan.children().iterator()
    while it.hasNext():
        names += _node_names(it.next())
    return names


def test_merge_is_one_shuffle_one_file_per_bucket(
    spark, tmp_path, tagger_bc, monkeypatch
):
    """Each merge's repartition on ``bucket`` is its ONLY shuffle (hash
    placement on a grouping key satisfies the per-edge aggregation),
    on the first commit and on a read-modify-write of existing buckets,
    and it still lands one file per touched bucket. It has
    min(touched, defaultParallelism) partitions, so the write runs in
    one wave, and the persisted batch rows are not aggregated: the
    merge's groupBy is the batch's only aggregation. More buckets than
    task slots here, so the cap is exercised."""
    import remediner_spark.sources.table as table_mod
    from remediner_spark.plancheck import physical_nodes
    from remediner_spark.sources.table import _load_snapshots, _snap_files
    from remediner_spark.streaming import edge_merge_fn

    slots = spark.sparkContext.defaultParallelism
    pages_dir, _ = _write_pages_split(tmp_path, n_pages=80)
    table = str(tmp_path / "edges_shuffle")
    shuffles, widths, cached_aggs = [], [], []
    write_table = table_mod.write_table

    def spy(df, path, **kw):
        exchanges = physical_nodes(df, "Exchange")
        shuffles.append(len(exchanges))
        widths.append(
            [e.outputPartitioning().numPartitions() for e in exchanges]
        )
        cached_aggs.append([
            name
            for scan in physical_nodes(df, "InMemoryTableScan")
            for name in _node_names(scan.relation().cachedPlan())
            if name.endswith("Aggregate")
        ])
        return write_table(df, path, **kw)

    monkeypatch.setattr(table_mod, "write_table", spy)
    merge = edge_merge_fn(spark, table, scope="s", n_buckets=4 * slots)
    touched = []
    for batch_id, part in enumerate(sorted(os.listdir(pages_dir))[:2]):
        pages = filter_language(spark.read.parquet(f"{pages_dir}/{part}"))
        merge(extract_triples_stage(pages, tagger_bc), batch_id)
        snap = _load_snapshots(table)[-1]
        new = [
            f["partition"]["bucket"] for f in _snap_files(table, snap)
            if f"commit={snap['commit']}" in f["path"]
        ]
        assert len(new) == len(set(new)) > 0
        touched.append(len(new))
    assert shuffles == [1, 1]
    assert max(touched) > slots
    assert widths == [[min(n, slots)] for n in touched]
    assert cached_aggs == [[], []]


def _edges_as_text(df):
    """(subj, pred, obj, weight, first_seen) rows, the timestamp
    rendered in the session zone."""
    return sorted(
        tuple(r) for r in df.select(
            "subj", "pred", "obj", F.col("weight").cast("long"),
            F.col("first_seen").cast("string"),
        ).collect()
    )


def test_first_seen_holds_under_session_zone(spark, tmp_path, tagger_bc):
    """The stream infers its pages schema rather than fixing one: under
    a non-UTC session zone its first_seen equals the batch path's on
    pandas-written pages (timestamp_ntz), and it runs over
    Spark-written pages (timestamp) as well."""
    ntz_dir, pages = _write_pages_split(tmp_path, n_pages=40)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ltz_dir = str(tmp_path / "pages_spark")
        spark.createDataFrame(pages).write.parquet(ltz_dir)
        for pages_dir, ts_type in ((ntz_dir, "timestamp_ntz"),
                                   (ltz_dir, "timestamp")):
            assert dict(spark.read.parquet(pages_dir).dtypes)["warc_ts"] \
                == ts_type
            name = os.path.basename(pages_dir)
            table = str(tmp_path / f"edges_{name}")
            q = stream_edge_weights(
                spark, pages_dir, table, str(tmp_path / f"ckpt_{name}"),
                tagger_bc, n_buckets=N_BUCKETS,
            )
            q.awaitTermination(120)
            assert q.exception() is None
            got = _edges_as_text(read_table(spark, table))
            assert got == _edges_as_text(
                _batch_edges(spark, pages_dir, tagger_bc)
            ) and got
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_restart_reads_stored_pages_schema(spark, tmp_path, tagger_bc):
    """The first start on a checkpoint infers the pages schema and
    stores it there; a later start reads it back and starts no Spark
    job before its first micro-batch, which still merges the pages
    that landed in between. A first start on an empty directory raises
    and stores nothing."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import StructType

    from remediner_spark.streaming import stream_pages

    pages_dir, _ = _write_pages_split(tmp_path, n_pages=40)
    table = str(tmp_path / "edges_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    os.makedirs(tmp_path / "empty")
    with pytest.raises(AnalysisException):
        stream_pages(spark, str(tmp_path / "empty"), ckpt)
    assert not os.path.exists(ckpt)
    stream_edge_weights(
        spark, pages_dir, table, ckpt, tagger_bc, n_buckets=N_BUCKETS
    ).awaitTermination(120)
    with open(os.path.join(ckpt, "pages_schema.json")) as fh:
        stored = StructType.fromJson(json.load(fh))
    assert stored == spark.read.parquet(pages_dir).schema

    late, _ = generate_pages(80)
    late.iloc[40:].to_parquet(
        os.path.join(pages_dir, "part-late.parquet"), index=False
    )
    n_snaps = len(table_snapshots(table))
    sc = spark.sparkContext
    sc.setJobGroup("restart", "second start on one checkpoint")
    try:
        q = stream_edge_weights(
            spark, pages_dir, table, ckpt, tagger_bc, n_buckets=N_BUCKETS
        )
        started = list(sc.statusTracker().getJobIdsForGroup("restart"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    q.awaitTermination(120)
    assert started == []
    assert list(sc.statusTracker().getJobIdsForGroup("restart")) == []
    assert len(table_snapshots(table)) == n_snaps + 1
