"""The scan-parallelism floor (sources/scan.py) fails closed: an input
it cannot size is read plain, never round-robined blind; a small
input it can size — by plain path or by URI — gets the floor."""

from __future__ import annotations

import os

import pandas as pd

from remediner_spark.plancheck import physical_nodes
from remediner_spark.sources.scan import _input_bytes, scan_parquet


def _round_robin(df) -> bool:
    return any(
        "RoundRobinPartitioning" in n.outputPartitioning().toString()
        for n in physical_nodes(df, "Exchange")
    )


def _small_parquet(tmp_path) -> str:
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"k": range(50), "v": [f"v{i}" for i in range(50)]}).to_parquet(
        path, index=False
    )
    return path


def test_unsized_input_reads_plain(spark, tmp_path):
    assert _input_bytes(spark, "nosuchscheme://bucket/t.parquet") is None
    path = _small_parquet(tmp_path)
    # a glob: Spark reads it, Hadoop's content summary cannot size it
    glob = os.path.join(os.path.dirname(path), "*.parquet")
    assert _input_bytes(spark, glob) is None
    df = scan_parquet(spark, glob)
    assert not _round_robin(df)
    assert df.count() == 50


def test_small_local_input_gets_floor(spark, tmp_path):
    path = _small_parquet(tmp_path)
    for p in (path, f"file://{path}", os.path.dirname(path)):
        assert _input_bytes(spark, p) >= os.path.getsize(path)
        df = scan_parquet(spark, p)
        assert _round_robin(df), p
        assert df.count() == 50
