"""Incremental link-graph maintenance (streaming.link_merge_fn):
per-batch href-edge deltas MERGEd into the Iceberg-style table.
Checks:

* merged state == link_graph full rebuild over the same pages,
* one snapshot per merged micro-batch,
* replayed batch ids are no-ops (the exactly-once guard),
* a later batch keeps merging after the replay.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from remediner_spark.operators.linkgraph import link_graph
from remediner_spark.sources.corpus import add_outlinks, generate_pages
from remediner_spark.sources.table import read_table, table_snapshots
from remediner_spark.streaming import link_merge_fn

N_BUCKETS = 4


def _linked_pages(n_pages=120):
    pages, _ = generate_pages(n_pages)
    return add_outlinks(pages)


def _edges_dict(df):
    return {
        (r["src_url"], r["dst_url"]): r["n_links"] for r in df.collect()
    }


def test_replay_guard_and_resume(spark, tmp_path):
    pages = spark.createDataFrame(_linked_pages(90))
    table = str(tmp_path / "lg_table2")
    merge = link_merge_fn(spark, table, scope="t", n_buckets=N_BUCKETS)

    b0 = pages.where(F.col("url") < "https://example.org/doc/00000030")
    b1 = pages.where(
        (F.col("url") >= "https://example.org/doc/00000030")
        & (F.col("url") < "https://example.org/doc/00000060")
    )
    b2 = pages.where(F.col("url") >= "https://example.org/doc/00000060")

    merge(b0, 0)
    merge(b1, 1)
    n_snaps = len(table_snapshots(table))
    state = _edges_dict(read_table(spark, table))

    merge(b0, 0)  # redelivered: must not commit
    merge(b1, 1)
    assert len(table_snapshots(table)) == n_snaps
    assert _edges_dict(read_table(spark, table)) == state

    merge(b2, 2)  # later batch still merges after the replay
    assert len(table_snapshots(table)) == n_snaps + 1
    got = _edges_dict(
        read_table(spark, table).select("src_url", "dst_url", "n_links")
    )
    want = _edges_dict(link_graph(pages))
    assert got == want


def test_merge_is_one_shuffle(spark, tmp_path, monkeypatch):
    """The merge's repartition on ``bucket`` is its only shuffle, on the
    first commit and on a read-modify-write of existing buckets."""
    import remediner_spark.sources.table as table_mod
    from remediner_spark.plancheck import physical_nodes

    pages = spark.createDataFrame(_linked_pages(60))
    table = str(tmp_path / "lg_shuffle")
    shuffles = []
    write_table = table_mod.write_table

    def spy(df, path, **kw):
        shuffles.append(len(physical_nodes(df, "Exchange")))
        return write_table(df, path, **kw)

    monkeypatch.setattr(table_mod, "write_table", spy)
    merge = link_merge_fn(spark, table, "s", N_BUCKETS)
    merge(pages, 0)
    merge(pages, 1)
    assert shuffles == [1, 1]
    got = _edges_dict(read_table(spark, table))
    want = _edges_dict(link_graph(pages))
    assert got == {k: 2 * v for k, v in want.items()}
