"""Streaming ingest resumes from its checkpoint: pages that land after a
drained run are merged, and only they are."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from remediner_spark.operators.ner import extract_triples_stage
from remediner_spark.operators.text import filter_language
from remediner_spark.sources.corpus import generate_pages
from remediner_spark.sources.table import read_table, table_snapshots
from remediner_spark.streaming import stream_edge_weights


@pytest.fixture(scope="module")
def tagger_bc(spark):
    from remediner_spark.plans.pipeline import default_tagger_bc

    return default_tagger_bc(spark)


def _write_pages_split(tmp_path, n_pages=120):
    pages, _ = generate_pages(n_pages)
    d = tmp_path / "pages_stream"
    os.makedirs(d, exist_ok=True)
    # three files arriving "over time"
    for i, chunk in enumerate(
        [pages.iloc[:40], pages.iloc[40:80], pages.iloc[80:]]
    ):
        chunk.to_parquet(d / f"part-{i}.parquet", index=False)
    return str(d), pages


def _weights(df):
    return {
        (r["subj"], r["pred"], r["obj"]): r["weight"] for r in df.collect()
    }


def test_streaming_incremental_resume(spark, tmp_path, tagger_bc):
    pages_dir, _ = _write_pages_split(tmp_path, 60)
    table = str(tmp_path / "edges_inc")
    ckpt = str(tmp_path / "ckpt_inc")

    def run():
        stream_edge_weights(
            spark, pages_dir, table, ckpt, tagger_bc, n_buckets=4
        ).awaitTermination(120)

    run()
    n_first = len(table_snapshots(table))

    # a new file lands; a second available-now run drains only the delta
    extra, _ = generate_pages(200)
    extra.iloc[150:].to_parquet(
        os.path.join(pages_dir, "part-late.parquet"), index=False
    )
    run()
    assert len(table_snapshots(table)) == n_first + 1
    # re-merging the first files would double their weights
    want = (
        extract_triples_stage(
            filter_language(spark.read.parquet(pages_dir)), tagger_bc
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    got = _weights(read_table(spark, table))
    assert got == _weights(want) and len(got) > 0
