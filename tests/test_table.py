"""Iceberg-style table format: snapshots, time travel, pruning."""

from __future__ import annotations

import pytest

from remediner_spark.sources.corpus import generate_pages
from remediner_spark.sources.table import (
    _load_snapshots,
    _partition_match,
    _snap_files,
    _stats_match,
    read_table,
    table_snapshots,
    write_table,
)


def _selected(path, keep, snapshot_id=None) -> tuple[int, int]:
    snapshots = _load_snapshots(path)
    snap = snapshots[-1] if snapshot_id is None else [
        s for s in snapshots if s["snapshot_id"] == snapshot_id
    ][0]
    files = _snap_files(path, snap)
    return len([f for f in files if keep(f, snap)]), len(files)


def pruned_file_count(
    path: str, partition_filter: dict, snapshot_id: int | None = None
) -> tuple[int, int]:
    """(selected, total) file counts for a filter — pruning evidence."""
    return _selected(
        path, lambda f, _snap: _partition_match(f, partition_filter),
        snapshot_id,
    )


def stats_pruned_count(
    path: str, stats_filter: dict, snapshot_id: int | None = None
) -> tuple[int, int]:
    """(selected, total) file counts for a column-range filter —
    data-skipping evidence (the stats analogue of pruned_file_count)."""
    return _selected(
        path, lambda f, snap: _stats_match(f, stats_filter, snap["schema"]),
        snapshot_id,
    )


@pytest.fixture()
def pages_pdf():
    pages, _ = generate_pages(120)
    return pages


def test_append_and_time_travel(spark, tmp_path, pages_pdf):
    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(pages_pdf.iloc[:50])
    df2 = spark.createDataFrame(pages_pdf.iloc[50:])
    s1 = write_table(df1, path, mode="append", partition_by=["lang"])
    s2 = write_table(df2, path, mode="append", partition_by=["lang"])
    assert s1["snapshot_id"] == 1 and s2["snapshot_id"] == 2
    assert read_table(spark, path).count() == 120
    # time travel: snapshot 1 still sees only the first batch
    assert read_table(spark, path, snapshot_id=1).count() == 50


def test_overwrite_keeps_history(spark, tmp_path, pages_pdf):
    path = str(tmp_path / "tbl")
    write_table(spark.createDataFrame(pages_pdf.iloc[:50]), path)
    write_table(
        spark.createDataFrame(pages_pdf.iloc[50:80]), path, mode="overwrite"
    )
    assert read_table(spark, path).count() == 30
    assert read_table(spark, path, snapshot_id=1).count() == 50
    snaps = table_snapshots(path)
    assert [s["mode"] for s in snaps] == ["append", "overwrite"]


def test_partition_pruning_from_manifest(spark, tmp_path, pages_pdf):
    path = str(tmp_path / "tbl")
    write_table(
        spark.createDataFrame(pages_pdf), path, partition_by=["lang"]
    )
    selected, total = pruned_file_count(path, {"lang": "de"})
    assert 0 < selected < total
    df = read_table(spark, path, partition_filter={"lang": "de"})
    got = df.toPandas()
    want = pages_pdf[pages_pdf["lang"] == "de"]
    assert len(got) == len(want)
    # partition column recovered on read
    assert set(got["lang"]) == {"de"}


def test_schema_mismatch_rejected(spark, tmp_path, pages_pdf):
    path = str(tmp_path / "tbl")
    write_table(spark.createDataFrame(pages_pdf), path)
    bad = spark.createDataFrame(pages_pdf.drop(columns=["lang"]))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_table(bad, path)


def test_empty_filter_returns_empty_with_schema(spark, tmp_path, pages_pdf):
    path = str(tmp_path / "tbl")
    write_table(
        spark.createDataFrame(pages_pdf), path, partition_by=["lang"]
    )
    df = read_table(spark, path, partition_filter={"lang": "xx"})
    assert df.count() == 0
    assert "url" in df.columns


def test_reads_plan_no_python_rdd(spark, tmp_path):
    """A bucket-partitioned read re-attaches ``bucket`` from a
    file->value map, and an all-pruned read returns an empty frame.
    Both must plan as JVM LocalRelations: a Python-RDD-backed
    LogicalRDD makes every read run a Python-worker job."""
    import pandas as pd

    from remediner_spark.plancheck import logical_nodes

    pdf = pd.DataFrame(
        {"k": range(40), "v": [f"v{i}" for i in range(40)],
         "bucket": [i % 4 for i in range(40)]}
    )
    path = str(tmp_path / "tbl")
    write_table(spark.createDataFrame(pdf), path, partition_by=["bucket"])
    full = read_table(spark, path)
    none = read_table(spark, path, partition_filter={"bucket": [9]})
    for df in (full, none):
        assert logical_nodes(df, "LogicalRDD") == []
        assert logical_nodes(df, "LocalRelation")
    got = full.toPandas().sort_values("k").reset_index(drop=True)
    assert got["bucket"].astype(int).tolist() == pdf["bucket"].tolist()
    assert none.count() == 0 and none.columns == full.columns


@pytest.mark.parametrize("partition_by", [[], ["bucket"]])
def test_non_null_element_array_round_trip(spark, tmp_path, partition_by):
    """Regression: parquet returns an ``array<string>`` written with
    non-null elements as nullable-element, and the field-id projection
    cast it back — which Spark refuses
    (DATATYPE_MISMATCH.CAST_WITHOUT_SUGGESTION), so no such table could
    be read (the KG edge table's ``sample_urls``). Nullability is not
    type identity: the read needs no cast, and the frame it returns
    writes back to the same table."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("k"),
        F.array(
            F.concat(F.lit("u"), F.col("id")), F.concat(F.lit("v"), F.col("id"))
        ).alias("urls"),
        (F.col("id") % 2).alias("bucket"),
    )
    assert df.schema["urls"].dataType.containsNull is False
    path = str(tmp_path / "tbl")
    write_table(df, path, partition_by=partition_by)
    got = read_table(spark, path)
    assert sorted((r["k"], list(r["urls"]), r["bucket"]) for r in got.collect()) == [
        (i, [f"u{i}", f"v{i}"], i % 2) for i in range(4)
    ]
    write_table(got, path, partition_by=partition_by)
    assert read_table(spark, path).count() == 8


def test_replace_partitions_and_compaction(spark, tmp_path, pages_pdf):
    """replace_partitions rewrites only touched partitions: compacting
    one partition's small files into one file leaves every other
    partition's files in place, keeps the data identical, and time
    travel still reaches the pre-compaction files."""
    from remediner_spark.sources.table import live_files

    path = str(tmp_path / "tbl")
    # three appends -> each lang partition holds 3 small files
    for i in range(3):
        chunk = pages_pdf.iloc[i * 40 : (i + 1) * 40]
        write_table(
            spark.createDataFrame(chunk).repartition(1),
            path, mode="append", partition_by=["lang"],
        )
    before = read_table(spark, path).toPandas()
    pre = live_files(path)
    assert len([f for f in pre if f["partition"]["lang"] == "en"]) == 3

    de = read_table(spark, path, partition_filter={"lang": "en"})
    snap = write_table(
        de.repartition(1), path, mode="replace_partitions",
        partition_by=["lang"],
    )
    assert snap["snapshot_id"] == 4
    after = read_table(spark, path).toPandas()
    key = ["url"]
    assert (
        before.sort_values(key).reset_index(drop=True)["url"].tolist()
        == after.sort_values(key).reset_index(drop=True)["url"].tolist()
    )
    post = live_files(path)
    assert len([f for f in post if f["partition"]["lang"] == "en"]) == 1
    # untouched partitions keep their files, by path
    assert {f["path"] for f in pre if f["partition"]["lang"] != "en"} == {
        f["path"] for f in post if f["partition"]["lang"] != "en"
    }
    # pre-compaction snapshot still readable (old files kept)
    assert read_table(spark, path, snapshot_id=3).count() == 120


def test_partition_values_survive_uri_encoding(spark, tmp_path):
    """Regression: input_file_name() returns a PERCENT-ENCODED URI, so
    partition dirs containing a space, '%', '=', '+', or non-ASCII
    re-encode (lang=a%3Db -> a%253Db) and the manifest join silently
    yielded NULL partition columns. The read side now percent-decodes
    ('+' preserved — URI encoding never means space by '+')."""
    import pandas as pd

    nasty = ["has space", "50%off", "a=b", "plus+plus", "naïve", "plain"]
    pdf = pd.DataFrame(
        {"url": [f"u{i}" for i in range(60)],
         "lang": [nasty[i % len(nasty)] for i in range(60)],
         "text": [f"t{i}" for i in range(60)]}
    )
    path = str(tmp_path / "tbl nasty")  # space in the TABLE path too
    write_table(spark.createDataFrame(pdf), path, partition_by=["lang"])
    got = read_table(spark, path).toPandas()
    assert len(got) == 60
    assert got["lang"].isna().sum() == 0
    assert set(got["lang"]) == set(nasty)
    # per-value filter + recovery both intact
    for v in nasty:
        sub = read_table(
            spark, path, partition_filter={"lang": v}
        ).toPandas()
        assert len(sub) == 10 and set(sub["lang"]) == {v}, v


def test_stats_data_skipping(spark, tmp_path):
    """Per-file column min/max stats (from parquet footers) prune
    files whose value range is disjoint from the requested range; the
    result still equals a full scan + filter exactly, and timestamps
    work through the ISO-string canonical form."""
    import datetime

    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
    )

    base = datetime.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "val": [i * 2 for i in range(1000)],
            "ts": pd.Series(
                [base + datetime.timedelta(hours=i) for i in range(1000)]
            ).astype("datetime64[us]"),
            "lang": ["en"] * 1000,
        }
    )
    path = str(tmp_path / "tbl")
    # range-partition on doc_id -> files hold disjoint id ranges, the
    # layout where data skipping bites (sorted/clustered ingest)
    df = spark.createDataFrame(pdf).repartitionByRange(8, "doc_id")
    write_table(df, path)

    sel, total = stats_pruned_count(path, {"doc_id": (100, 180)})
    assert total == 8 and 1 <= sel <= 2

    got = (
        read_table(spark, path, stats_filter={"doc_id": (100, 180)})
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = pdf[(pdf.doc_id >= 100) & (pdf.doc_id <= 180)].reset_index(
        drop=True
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["val"].tolist() == want["val"].tolist()

    # open-ended bound + timestamp column
    lo_ts = base + datetime.timedelta(hours=900)
    sel_ts, _ = stats_pruned_count(path, {"ts": (lo_ts, None)})
    assert sel_ts <= 2
    got_ts = read_table(
        spark, path, stats_filter={"ts": (lo_ts, None)}
    ).toPandas()
    assert len(got_ts) == 100
    # a column with overlapping ranges everywhere prunes nothing but
    # still filters exactly
    got_all = read_table(
        spark, path, stats_filter={"lang": ("en", "en")}
    ).toPandas()
    assert len(got_all) == 1000


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style add-column evolution: an append with NEW columns
    widens the table schema; old files read as null for them; column
    ORDER is not identity; dropping or retyping still rejects; time
    travel sees each snapshot's own schema."""
    import pandas as pd

    path = str(tmp_path / "tbl")
    v1 = pd.DataFrame(
        {"url": ["a", "b"], "lang": ["en", "de"], "text": ["x", "y"]}
    )
    write_table(spark.createDataFrame(v1), path, partition_by=["lang"])

    # append with a new column AND shuffled column order
    v2 = pd.DataFrame(
        {"score": [0.5, 0.9], "text": ["z", "w"],
         "url": ["c", "d"], "lang": ["en", "en"]}
    )
    write_table(
        spark.createDataFrame(v2)[["score", "text", "url", "lang"]],
        path, mode="append", partition_by=["lang"],
    )
    got = read_table(spark, path).toPandas().sort_values("url")
    assert list(got.columns) == ["url", "lang", "text", "score"]
    assert got[got.url.isin(["a", "b"])]["score"].isna().all()
    assert got[got.url == "c"]["score"].iloc[0] == 0.5
    # time travel: snapshot 1 keeps the narrow schema
    old = read_table(spark, path, snapshot_id=1)
    assert "score" not in old.columns

    # dropping a column still rejects
    with pytest.raises(ValueError, match="missing columns"):
        write_table(
            spark.createDataFrame(v1.drop(columns=["text"])), path,
            mode="append", partition_by=["lang"],
        )
    # retyping still rejects
    bad = v1.copy()
    bad["text"] = [1, 2]
    with pytest.raises(ValueError, match="type changes"):
        write_table(
            spark.createDataFrame(bad), path, mode="append",
            partition_by=["lang"],
        )


def test_compaction_after_schema_evolution(spark, tmp_path):
    """Compacting a partition whose files span schema versions
    (read_table -> replace_partitions) null-fills evolved columns for
    old rows and keeps new rows' values."""
    import pandas as pd

    from remediner_spark.sources.table import live_files

    path = str(tmp_path / "tbl")
    v1 = pd.DataFrame(
        {"url": [f"a{i}" for i in range(6)], "lang": ["en"] * 6,
         "text": ["x"] * 6}
    )
    write_table(
        spark.createDataFrame(v1).repartition(1), path,
        mode="append", partition_by=["lang"],
    )
    v2 = v1.assign(url=[f"b{i}" for i in range(6)], score=1.5)
    write_table(
        spark.createDataFrame(v2).repartition(1), path,
        mode="append", partition_by=["lang"],
    )
    v3 = v1.assign(url=[f"c{i}" for i in range(6)], score=2.5)
    write_table(
        spark.createDataFrame(v3).repartition(1), path,
        mode="append", partition_by=["lang"],
    )
    write_table(
        read_table(spark, path).repartition(1), path,
        mode="replace_partitions", partition_by=["lang"],
    )
    assert len(live_files(path)) == 1
    got = read_table(spark, path).toPandas()
    assert len(got) == 18
    assert got[got.url.str.startswith("a")]["score"].isna().all()
    assert (got[got.url.str.startswith("b")]["score"] == 1.5).all()
    assert (got[got.url.str.startswith("c")]["score"] == 2.5).all()


def test_sort_order_enables_data_skipping(spark, tmp_path):
    """The Iceberg sort-order write (sort_by) clusters values so file
    ranges are disjoint and stats pruning bites; the same data written
    unclustered prunes nothing (every file spans the domain). Results
    are identical either way."""
    import random

    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
    )

    rng = random.Random(3)
    ids = list(range(2000))
    rng.shuffle(ids)
    pdf = pd.DataFrame({"doc_id": ids, "val": [i % 7 for i in ids]})

    unsorted_path = str(tmp_path / "unsorted")
    write_table(
        spark.createDataFrame(pdf).repartition(8), unsorted_path
    )
    sorted_path = str(tmp_path / "sorted")
    write_table(
        spark.createDataFrame(pdf).repartition(8), sorted_path,
        sort_by=["doc_id"],
    )
    flt = {"doc_id": (500, 600)}
    sel_u, tot_u = stats_pruned_count(unsorted_path, flt)
    sel_s, tot_s = stats_pruned_count(sorted_path, flt)
    assert sel_u == tot_u == 8  # shuffled: every file spans the domain
    assert tot_s >= 4 and sel_s <= 2  # clustered: most files skipped

    a = read_table(spark, unsorted_path, stats_filter=flt).toPandas()
    b = read_table(spark, sorted_path, stats_filter=flt).toPandas()
    key = ["doc_id"]
    assert (
        a.sort_values(key).reset_index(drop=True)["val"].tolist()
        == b.sort_values(key).reset_index(drop=True)["val"].tolist()
    )
    assert len(a) == 101


def test_upsert_rows_merge_on_read(spark, tmp_path):
    """Row-level MERGE: matching keys replaced, new keys inserted, no
    data file rewritten — one equality-delete entry targets only the
    files whose stats could hold an update key — and the pre-merge
    snapshot still time-travels."""
    import pandas as pd

    from remediner_spark.sources.table import upsert_rows

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {"doc_id": range(1000), "val": [i * 10 for i in range(1000)]}
    )
    write_table(
        spark.createDataFrame(pdf).repartition(8), path,
        sort_by=["doc_id"],
    )
    pre_files = {f["path"] for f in _snap_files(path, _load_snapshots(path)[-1])}

    ups = pd.DataFrame(
        {"doc_id": [100, 101, 5000], "val": [-1, -2, -3]}
    )
    snap = upsert_rows(spark, path, spark.createDataFrame(ups), ["doc_id"])
    # narrow key range + clustered files: the delete targets few files
    assert 1 <= snap["properties"]["delete_targets"] <= 3
    assert snap["properties"]["carried_files"] == len(pre_files)
    # every pre-merge data file is still in the manifest
    post_files = {f["path"] for f in _snap_files(path, snap)}
    assert pre_files < post_files
    [entry] = snap["delete_files"]
    assert entry["type"] == "eq" and set(entry["paths"]) <= pre_files
    assert len(entry["paths"]) == snap["properties"]["delete_targets"]

    got = read_table(spark, path).toPandas().set_index("doc_id")
    assert len(got) == 1001  # 1000 originals - 2 replaced + 2 + 1 new
    assert got.loc[100, "val"] == -1 and got.loc[101, "val"] == -2
    assert got.loc[5000, "val"] == -3
    assert got.loc[99, "val"] == 990  # untouched row intact
    # pre-merge snapshot unchanged
    old = read_table(spark, path, snapshot_id=1).toPandas().set_index("doc_id")
    assert len(old) == 1000 and old.loc[100, "val"] == 1000

    # schema mismatch is loud
    with pytest.raises(ValueError, match="updates schema"):
        upsert_rows(
            spark, path,
            spark.createDataFrame(ups.drop(columns=["val"])), ["doc_id"],
        )


def test_upsert_rows_partitioned(spark, tmp_path):
    """Upsert on a partitioned table keeps partition recovery and
    per-partition files correct."""
    import pandas as pd

    from remediner_spark.sources.table import read_table, upsert_rows

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {"doc_id": range(100),
         "lang": ["en" if i % 2 else "de" for i in range(100)],
         "val": list(range(100))}
    )
    write_table(spark.createDataFrame(pdf), path, partition_by=["lang"])
    ups = pd.DataFrame(
        {"doc_id": [0, 1], "lang": ["de", "en"], "val": [-5, -6]}
    )
    upsert_rows(spark, path, spark.createDataFrame(ups), ["doc_id"])
    got = read_table(spark, path).toPandas().set_index("doc_id")
    assert len(got) == 100
    assert got.loc[0, "val"] == -5 and got.loc[1, "val"] == -6
    assert set(got["lang"]) == {"en", "de"}


def test_upsert_rejects_duplicate_keys_and_keeps_clustering(spark, tmp_path):
    import pandas as pd

    from remediner_spark.sources.table import (
        _load_snapshots,
        upsert_rows,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(400), "val": range(400)})
    write_table(
        spark.createDataFrame(pdf).repartition(4), path,
        sort_by=["doc_id"],
    )
    dup = pd.DataFrame({"doc_id": [7, 7], "val": [1, 2]})
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_rows(spark, path, spark.createDataFrame(dup), ["doc_id"])

    # two sequential narrow upserts: the second still carries files —
    # clustering (and therefore stats tightness) survived the first
    # rewrite because upsert re-applies the table's sort order
    one = pd.DataFrame({"doc_id": [10], "val": [-1]})
    upsert_rows(spark, path, spark.createDataFrame(one), ["doc_id"])
    snap2 = upsert_rows(
        spark, path,
        spark.createDataFrame(pd.DataFrame({"doc_id": [11], "val": [-2]})),
        ["doc_id"],
    )
    assert snap2["properties"]["carried_files"] >= 2
    assert _load_snapshots(path)[-1]["sort_by"] == ["doc_id"]


def test_delete_range_metadata_only_drop(spark, tmp_path):
    """Range DELETE on a clustered table: fully-covered files drop
    WITHOUT being read or rewritten, disjoint files carry by
    reference, boundary files stay under a predicate-delete entry;
    time travel still reaches the deleted rows."""
    import pandas as pd

    from remediner_spark.sources.table import (
        _load_snapshots,
        delete_range,
        read_table,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(1000), "val": range(1000)})
    write_table(
        spark.createDataFrame(pdf).repartition(8), path, sort_by=["doc_id"]
    )
    pre_files = {f["path"] for f in _snap_files(path, _load_snapshots(path)[-1])}

    snap = delete_range(spark, path, "doc_id", 200, 700)
    props = snap["properties"]
    assert props["dropped_files"] >= 2  # whole files inside [200, 700]
    assert props["carried_files"] >= 2  # files fully below/above
    assert 1 <= props["delete_targets"] <= 4
    # carried and targeted files are literally the same paths; no
    # file was written
    post_files = {f["path"] for f in _snap_files(path, _load_snapshots(path)[-1])}
    assert post_files < pre_files
    assert len(post_files) == props["carried_files"] + props["delete_targets"]

    got = read_table(spark, path).toPandas()
    assert len(got) == 1000 - 501
    assert got["doc_id"].between(200, 700).sum() == 0
    # time travel pre-delete
    assert read_table(spark, path, snapshot_id=1).count() == 1000

    # open-ended retention cut: everything >= 900 goes
    delete_range(spark, path, "doc_id", 900, None)
    got2 = read_table(spark, path).toPandas()
    assert got2["doc_id"].max() < 900
    assert len(got2) == 1000 - 501 - 100

def test_delete_range_keeps_null_rows(spark, tmp_path):
    """SQL DELETE semantics: a NULL delete-column makes the predicate
    UNKNOWN, so NULL rows are KEPT — both on the rewrite path (the
    null-safe complement filter) and on the metadata-drop path (a file
    with NULL rows is never dropped metadata-only, however 'inside'
    its min/max range looks, because parquet stats ignore NULLs)."""
    import pandas as pd

    from remediner_spark.sources.table import delete_range, read_table

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {
            "k": [float(i) for i in range(100)] + [None] * 5,
            "val": list(range(105)),
        }
    )
    # single file: min/max = [0, 99], fully inside the delete range,
    # but it carries 5 NULL rows — the old metadata-drop would lose them
    write_table(spark.createDataFrame(pdf).coalesce(1), path)

    snap = delete_range(spark, path, "k", 0.0, 200.0)
    assert snap["properties"]["dropped_files"] == 0  # null gate held
    got = read_table(spark, path).toPandas()
    assert len(got) == 5
    assert got["k"].isna().all()
    assert sorted(got["val"]) == [100, 101, 102, 103, 104]


def test_delete_range_nullfree_still_drops_metadata_only(spark, tmp_path):
    """The null gate must not tax the common case: a null-free
    clustered table still gets the metadata-only drop (nullfree flag
    recorded from parquet null_count stats at write time)."""
    import pandas as pd

    from remediner_spark.sources.table import _load_snapshots, delete_range

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"k": range(1000), "val": range(1000)})
    write_table(spark.createDataFrame(pdf).repartition(8), path, sort_by=["k"])
    for f in _snap_files(path, _load_snapshots(path)[-1]):
        assert "k" in f["nullfree"]
    snap = delete_range(spark, path, "k", 200, 700)
    assert snap["properties"]["dropped_files"] >= 2


def test_stats_match_date_vs_datetime_bounds(spark, tmp_path):
    """Date-column stats are stored as 'YYYY-MM-DD'; a datetime filter
    bound canonicalizes to 'YYYY-MM-DDTHH:MM:SS'. Raw lexicographic
    comparison would FALSELY prune a file whose max date equals the
    bound's date ('2024-01-05' < '2024-01-05T00:00:00'); the promoted
    comparison keeps it. Incomparable representations (numeric bound
    vs string stats) degrade to keep, never TypeError."""
    import datetime

    from remediner_spark.sources.table import _stats_match

    def one_col(name, typ, lo, hi):
        # a file entry and the schema it was written under: field 1
        schema = {"fields": [
            {"name": name, "type": typ, "metadata": {"field_id": 1}}
        ]}
        entry = {
            "stats": {name: [lo, hi]},
            "fields": {"1": {"name": name, "type": typ}},
        }
        return lambda flt: _stats_match(entry, flt, schema)

    match = one_col("d", "date", "2024-01-01", "2024-01-05")
    # bound at midnight of the max date: rows with d == 2024-01-05
    # satisfy d >= bound under Spark's date->timestamp cast — keep
    assert match({"d": (datetime.datetime(2024, 1, 5, 0, 0, 0), None)})
    # bound strictly past the range: provably disjoint — prune
    assert not match({"d": (datetime.datetime(2024, 1, 6, 0, 0, 0), None)})
    # datetime stats vs date bound (reverse direction): hi bound
    # date(2024,1,5) casts to midnight; a file starting at 10:00 that
    # day is disjoint
    ts_match = one_col(
        "t", "timestamp", "2024-01-05T10:00:00", "2024-01-07T00:00:00"
    )
    assert not ts_match({"t": (None, datetime.date(2024, 1, 5))})
    assert ts_match({"t": (None, datetime.date(2024, 1, 6))})
    # numeric bound against string stats: incomparable -> keep, no raise
    assert match({"d": (5, None)})
    assert match({"d": (None, 5)})


@pytest.mark.parametrize("strip", ["snapshot", "entry"])
def test_read_without_field_ids_raises(spark, tmp_path, pages_pdf, strip):
    """A table on disk is outside input: a snapshot or file entry
    without field ids fails closed with an error naming the table,
    never falls back to name-based reads."""
    import json
    import os

    from remediner_spark.sources import table as tbl

    path = str(tmp_path / "tbl")
    write_table(spark.createDataFrame(pages_pdf.iloc[:20]), path)
    if strip == "snapshot":
        snaps = _load_snapshots(path)
        for snap in snaps:
            del snap["last_field_id"]
            for f in snap["schema"]["fields"]:
                f["metadata"].pop("field_id")
        tbl._save_snapshots(path, snaps)
    else:
        mdir = os.path.join(path, "_metadata", "manifests")
        for ref in os.listdir(mdir):
            fpath = os.path.join(mdir, ref)
            with open(fpath) as fh:
                entries = json.load(fh)
            if ref.startswith("m-"):
                for e in entries:
                    del e["fields"]
            with open(fpath, "w") as fh:
                json.dump(entries, fh)
        tbl._MANIFEST_CACHE.clear()
    with pytest.raises(ValueError, match="field") as err:
        read_table(spark, path)
    assert path in str(err.value)


def test_delete_range_mor_predicate(spark, tmp_path):
    """Range DELETE: boundary files stay in place under a
    predicate-delete entry; contents equal the relational
    recomputation; NULL rows survive; inside files still
    metadata-drop."""
    import pandas as pd

    from remediner_spark.sources.table import delete_range

    pdf = pd.DataFrame(
        {"k": [float(i) for i in range(1000)] + [None] * 5,
         "val": list(range(1005))}
    )
    path = str(tmp_path / "tbl")
    write_table(
        spark.createDataFrame(pdf).repartition(8), path, sort_by=["k"]
    )
    snap = delete_range(spark, path, "k", 201.5, 700.5)
    assert snap["properties"]["dropped_files"] >= 1
    assert snap["properties"]["delete_targets"] >= 1
    assert any(d["type"] == "pred" for d in snap["delete_files"])
    got = (
        read_table(spark, path).toPandas()
        .sort_values("val").reset_index(drop=True)
    )
    want = pdf[~pdf["k"].between(201.5, 700.5)].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 1005 - 499  # k in [202, 700] deleted
    assert got["k"].isna().sum() == 5  # NULL rows kept


def test_upsert_composite_key_file_targeting(spark, tmp_path):
    """A two-column narrow upsert into a sorted table targets only the
    files whose stats box actually contains an update key tuple — the
    composite-key generalization of the sorted-keyset targeting (the
    old fallback was a global per-column bounding box)."""
    import pandas as pd

    from remediner_spark.sources.table import read_table, upsert_rows

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {
            "bucket": [i // 125 for i in range(1000)],
            "doc_id": [i % 125 for i in range(1000)],
            "val": list(range(1000)),
        }
    )
    write_table(
        spark.createDataFrame(pdf).repartition(8), path,
        sort_by=["bucket", "doc_id"],
    )
    # two updates in far-apart buckets: a bounding box over (bucket,
    # doc_id) would span the whole table; tuple targeting touches only
    # the two owning files
    ups = pd.DataFrame(
        {"bucket": [0, 7], "doc_id": [10, 100], "val": [-1, -2]}
    )
    snap = upsert_rows(
        spark, path, spark.createDataFrame(ups), ["bucket", "doc_id"],
    )
    assert 1 <= snap["properties"]["delete_targets"] <= 2
    got = read_table(spark, path).toPandas().set_index(["bucket", "doc_id"])
    assert got.loc[(0, 10), "val"] == -1
    assert got.loc[(7, 100), "val"] == -2
    assert len(got) == 1000


def test_rename_column_metadata_only(spark, tmp_path):
    """Field-id rename: metadata-only commit, old files keep serving
    the column under the new name, appends use the new name, time
    travel to the pre-rename snapshot sees the old name."""
    import pandas as pd

    from remediner_spark.sources.table import (
        _load_snapshots,
        read_table,
        rename_column,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(100), "val": range(100)})
    write_table(spark.createDataFrame(pdf).repartition(2), path,
                sort_by=["doc_id"])
    pre_files = {f["path"] for f in _snap_files(path, _load_snapshots(path)[-1])}

    snap = rename_column(path, "val", "score")
    assert snap["mode"] == "evolve-rename"
    assert {f["path"] for f in _snap_files(path, snap)} == pre_files  # no rewrite
    got = read_table(spark, path).toPandas()
    assert "score" in got.columns and "val" not in got.columns
    assert got.sort_values("doc_id")["score"].tolist() == list(range(100))
    # sort order followed the rename? no - sort was on doc_id; appends:
    write_table(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [200], "score": [999]})
        ),
        path, mode="append",
    )
    got2 = read_table(spark, path).toPandas().set_index("doc_id")
    assert got2.loc[200, "score"] == 999 and len(got2) == 101
    # time travel: pre-rename schema of its day
    old = read_table(spark, path, snapshot_id=1).toPandas()
    assert "val" in old.columns and "score" not in old.columns


def test_widen_column_int_to_long(spark, tmp_path):
    """int->long widening: metadata-only; old int files cast at read;
    new long appends mix transparently; unsafe retype still raises."""
    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
        widen_column,
    )

    path = str(tmp_path / "tbl")
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "n": range(20)})
    ).selectExpr("doc_id", "CAST(n AS INT) AS n")
    write_table(sdf, path)
    widen_column(path, "n", "long")
    got = read_table(spark, path)
    assert dict(got.dtypes)["n"] == "bigint"
    big = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "n": [2**40]})
    )
    write_table(big, path, mode="append")
    vals = read_table(spark, path).toPandas().set_index("doc_id")["n"]
    assert vals.loc[99] == 2**40 and vals.loc[5] == 5
    # time travel pre-widening keeps the int schema
    assert dict(read_table(spark, path, snapshot_id=1).dtypes)["n"] == "int"
    with pytest.raises(ValueError, match="unsafe type change"):
        widen_column(path, "doc_id", "string")


def test_evolution_guards(spark, tmp_path):
    """Partition columns can't rename; neither can a missing column,
    nor onto an existing name."""
    import pandas as pd

    from remediner_spark.sources.table import rename_column

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {"doc_id": range(100),
         "lang": ["en" if i % 2 else "de" for i in range(100)],
         "val": list(range(100))}
    )
    write_table(spark.createDataFrame(pdf), path, partition_by=["lang"])
    with pytest.raises(ValueError, match="partition column"):
        rename_column(path, "lang", "language")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(path, "val", "doc_id")
    with pytest.raises(ValueError, match="no column"):
        rename_column(path, "nope", "x")


def test_rename_with_pending_mor_delete(spark, tmp_path):
    """An equality-delete committed before a rename must keep applying
    afterwards: the entry's logical cols follow the rename while the
    delete parquet keeps its physical column names."""
    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
        rename_column,
        upsert_rows,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(200), "val": range(200)})
    write_table(spark.createDataFrame(pdf).repartition(2), path,
                sort_by=["doc_id"])
    ups = pd.DataFrame({"doc_id": [7], "val": [-1]})
    upsert_rows(spark, path, spark.createDataFrame(ups), ["doc_id"])
    rename_column(path, "doc_id", "page_id")
    got = read_table(spark, path).toPandas().set_index("page_id")
    assert len(got) == 200  # old row 7 deleted, update inserted
    assert got.loc[7, "val"] == -1


def test_stats_skipping_survives_rename(spark, tmp_path):
    """Footer stats stay keyed by the write-time physical name; after
    a rename the filter column must resolve through the field-id
    mapping so data skipping keeps pruning (a conservative fallback
    would silently read everything forever)."""
    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
        rename_column,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(1000), "val": range(1000)})
    write_table(spark.createDataFrame(pdf).repartition(8), path,
                sort_by=["doc_id"])
    rename_column(path, "doc_id", "page_id")
    selected, total = stats_pruned_count(path, {"page_id": (900, None)})
    assert total == 8 and selected <= 2  # pruning still bites
    got = read_table(spark, path, stats_filter={"page_id": (900, None)})
    assert got.count() == 100


def test_stats_filter_prunes_pre_add_files(spark, tmp_path):
    """Files that predate an added column hold only NULLs for it, and
    a bounded range predicate excludes NULL rows — those files prune
    entirely at the manifest level."""
    import pandas as pd

    from remediner_spark.sources.table import read_table

    path = str(tmp_path / "tbl")
    old = pd.DataFrame({"doc_id": range(100)})
    write_table(spark.createDataFrame(old).repartition(4), path)
    new = pd.DataFrame({"doc_id": [200, 201], "score": [5, 7]})
    write_table(spark.createDataFrame(new), path, mode="append")
    selected, total = stats_pruned_count(path, {"score": (0, None)})
    assert selected < total
    got = read_table(spark, path, stats_filter={"score": (0, None)}).toPandas()
    assert sorted(got["doc_id"]) == [200, 201]


def test_upsert_after_widen_and_rename(spark, tmp_path):
    """MERGE through evolution: after int->long widening and a key
    rename, upserts keyed on the new name still target files through
    the field-id mapping and merge correctly."""
    import pandas as pd

    from remediner_spark.sources.table import (
        read_table,
        rename_column,
        upsert_rows,
        widen_column,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(400), "n": range(400)})
    ).selectExpr("doc_id", "CAST(n AS INT) AS n")
    write_table(base.repartition(4), path, sort_by=["doc_id"])
    widen_column(path, "n", "long")
    rename_column(path, "doc_id", "page_id")
    ups = spark.createDataFrame(
        pd.DataFrame({"page_id": [5], "n": [2**40]})
    )
    snap = upsert_rows(spark, path, ups, ["page_id"])
    # field-id stats targeting still prunes: only the file holding
    # page_id=5 is a delete target
    assert snap["properties"]["delete_targets"] == 1
    assert snap["properties"]["carried_files"] == 4
    got = read_table(spark, path).toPandas().set_index("page_id")
    assert len(got) == 400
    assert got.loc[5, "n"] == 2**40
    assert got.loc[6, "n"] == 6


def test_delete_range_after_rename(spark, tmp_path):
    """Range DELETE on a renamed column: classification resolves file
    stats through the field-id mapping, so metadata-only drops still
    happen and the result equals the relational recomputation."""
    import pandas as pd

    from remediner_spark.sources.table import (
        delete_range,
        read_table,
        rename_column,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(1000), "val": range(1000)})
    write_table(spark.createDataFrame(pdf).repartition(8), path,
                sort_by=["doc_id"])
    rename_column(path, "doc_id", "page_id")
    snap = delete_range(spark, path, "page_id", 200, 700)
    assert snap["properties"]["dropped_files"] >= 2  # stats still map
    got = read_table(spark, path).toPandas()
    assert len(got) == 1000 - 501
    assert got["page_id"].between(200, 700).sum() == 0


def test_optimistic_commit_conflict(spark, tmp_path):
    """Concurrent-writer safety: a commit planned against a stale tip
    raises CommitConflictError instead of silently dropping the other
    writer's snapshot; a stale crashed lock is broken, a fresh one
    times out."""
    import os
    import time as _time

    import pandas as pd

    from remediner_spark.sources.table import (
        CommitConflictError,
        _commit_snapshot,
        _load_snapshots,
        _meta_dir,
        read_table,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(50), "val": range(50)})
    write_table(spark.createDataFrame(pdf), path)
    # writer A plans against tip=1; writer B commits first
    write_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [99], "val": [9]})),
        path, mode="append",
    )  # tip is now 2
    fake = dict(_load_snapshots(path)[-1])
    fake["snapshot_id"] = 2
    with pytest.raises(CommitConflictError, match="planned against 1"):
        _commit_snapshot(path, 1, fake)
    # nothing was lost
    assert read_table(spark, path).count() == 51
    assert [s["snapshot_id"] for s in _load_snapshots(path)] == [1, 2]

    # stale lock (crashed writer) is broken and the commit proceeds
    lock = os.path.join(_meta_dir(path), "commit.lock")
    open(lock, "w").write("0")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    write_table(
        spark.createDataFrame(pd.DataFrame({"doc_id": [100], "val": [1]})),
        path, mode="append",
    )
    assert read_table(spark, path).count() == 52
    # fresh lock blocks until timeout
    open(lock, "w").write("0")
    from remediner_spark.sources.table import _commit_lock

    with pytest.raises(TimeoutError, match="commit lock busy"):
        with _commit_lock(path, timeout_s=0.3):
            pass
    os.remove(lock)


def test_cmp_stats_matches_chronology():
    """Property: _cmp_stats on canonicalized date/datetime bounds must
    agree with true chronological order whenever it returns a verdict
    (the ADVICE r4 false-prune class: '2024-01-05' vs
    '2024-01-05T00:00:00' compared lexicographically)."""
    import datetime
    import itertools

    from remediner_spark.sources.table import _cmp_stats, _stats_value

    instants = []
    for d in (1, 5, 28):
        instants.append(datetime.date(2024, 1, d))
        for h, m_ in ((0, 0), (10, 30), (23, 59)):
            instants.append(datetime.datetime(2024, 1, d, h, m_))
    for a, b in itertools.product(instants, repeat=2):
        ta = (
            a
            if isinstance(a, datetime.datetime)
            else datetime.datetime(a.year, a.month, a.day)
        )
        tb = (
            b
            if isinstance(b, datetime.datetime)
            else datetime.datetime(b.year, b.month, b.day)
        )
        want = (ta > tb) - (ta < tb)
        got = _cmp_stats(_stats_value(a), _stats_value(b))
        assert got == want, (a, b, got, want)
    # incomparable representations return None, never raise
    assert _cmp_stats(5, "2024-01-01") is None
    assert _cmp_stats(True, 1) is None


def test_stats_filter_composes_with_mor_deletes(spark, tmp_path):
    """Interplay paranoia: manifest stats pruning + row-level range
    filter + pending equality/predicate deletes must compose to the
    exact relational answer — a pruned file's delete entry simply has
    nothing to apply to."""
    import pandas as pd

    from remediner_spark.sources.table import (
        delete_range,
        read_table,
        upsert_rows,
    )

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(1000), "val": range(1000)})
    write_table(spark.createDataFrame(pdf).repartition(8), path,
                sort_by=["doc_id"])
    upsert_rows(
        spark, path,
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [150, 850], "val": [-1, -2]})
        ),
        ["doc_id"],
    )
    delete_range(spark, path, "doc_id", 300, 499)

    got = (
        read_table(spark, path, stats_filter={"doc_id": (100, 899)})
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    # relational recompute in pandas
    want = pdf.copy()
    want.loc[want.doc_id.isin([150, 850]), "val"] = [-1, -2]
    want = want[~want.doc_id.between(300, 499)]
    want = (
        want[want.doc_id.between(100, 899)]
        .sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_compact_folds_mor_deletes(spark, tmp_path):
    """Compacting every partition (read_table -> replace_partitions)
    applies the pending delete entries while rewriting, and the entries
    leave the manifest with their target files."""
    import pandas as pd

    from remediner_spark.sources.table import upsert_rows

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {"doc_id": range(300),
         "lang": ["en" if i % 2 else "de" for i in range(300)],
         "val": list(range(300))}
    )
    write_table(
        spark.createDataFrame(pdf).repartition(3), path,
        partition_by=["lang"],
    )
    ups = pd.DataFrame(
        {"doc_id": [10, 11], "lang": ["en", "de"], "val": [-1, -2]}
    )
    upsert_rows(spark, path, spark.createDataFrame(ups), ["doc_id"])
    assert _load_snapshots(path)[-1]["delete_files"]
    before = (
        read_table(spark, path).toPandas().sort_values("doc_id")
        .reset_index(drop=True)
    )
    snap = write_table(
        read_table(spark, path).repartition(2, "lang"), path,
        mode="replace_partitions", partition_by=["lang"],
    )
    assert not snap["delete_files"]  # folded in
    after = (
        read_table(spark, path).toPandas().sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        before, after[before.columns.tolist()]
    )
    # the pre-compaction MoR snapshot still time-travels with deletes
    prev_id = snap["snapshot_id"] - 1
    tt = read_table(spark, path, snapshot_id=prev_id).toPandas()
    assert tt.set_index("doc_id").loc[10, "val"] == -1


def test_compact_unpartitioned_folds_deletes(spark, tmp_path):
    """An unpartitioned table folds its delete entries by a whole-table
    rewrite (read_table -> overwrite): contents unchanged, delete
    entries gone, sort order kept, time travel intact."""
    import pandas as pd

    from remediner_spark.sources.table import delete_range, upsert_rows

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(500), "val": range(500)})
    write_table(spark.createDataFrame(pdf).repartition(6), path,
                sort_by=["doc_id"])
    upsert_rows(
        spark, path,
        spark.createDataFrame(pd.DataFrame({"doc_id": [7], "val": [-1]})),
        ["doc_id"],
    )
    delete_range(spark, path, "doc_id", 480, None)
    assert _load_snapshots(path)[-1]["delete_files"]
    before = (
        read_table(spark, path).toPandas().sort_values("doc_id")
        .reset_index(drop=True)
    )
    snap = write_table(
        read_table(spark, path).coalesce(2), path, mode="overwrite",
        sort_by=["doc_id"],
    )
    assert not snap["delete_files"]
    assert len(_snap_files(path, snap)) <= 2
    assert snap["sort_by"] == ["doc_id"]
    after = (
        read_table(spark, path).toPandas().sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)
    assert len(after) == 500 - 20  # 480..499 deleted, key 7 updated
    assert after.set_index("doc_id").loc[7, "val"] == -1
    # pre-compaction snapshots still time travel
    assert read_table(spark, path, snapshot_id=1).count() == 500


def test_break_stale_lock_spares_fresh_lock(tmp_path, monkeypatch):
    """A stale commit lock is broken; a fresh one is left alone — and
    the race where the lock is REPLACED between the staleness stat and
    the claim (r5 ADVICE TOCTOU) restores the stolen fresh lock."""
    import os
    import time as _time

    from remediner_spark.sources.table import _break_stale_lock

    lock = str(tmp_path / "commit.lock")

    # stale lock: removed
    with open(lock, "w") as fh:
        fh.write("111:dead")
    os.utime(lock, (_time.time() - 9999, _time.time() - 9999))
    _break_stale_lock(lock, stale_s=300.0)
    assert not os.path.exists(lock)

    # fresh lock: untouched
    with open(lock, "w") as fh:
        fh.write("222:live")
    _break_stale_lock(lock, stale_s=300.0)
    assert os.path.exists(lock)

    # TOCTOU: the first stat observes a STALE file, but by claim time a
    # FRESH lock (different inode) sits at the path — simulate with a
    # patched first stat reporting staleness + a different inode
    real_stat = os.stat
    real = real_stat(lock)
    calls = {"n": 0}

    class _FakeStat:
        st_ino = real.st_ino + 12345
        st_mtime = _time.time() - 9999

    def fake_stat(p, *a, **kw):
        if p == lock and calls["n"] == 0:
            calls["n"] += 1
            return _FakeStat()
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(os, "stat", fake_stat)
    _break_stale_lock(lock, stale_s=300.0)
    monkeypatch.undo()
    assert os.path.exists(lock)  # fresh lock restored, not deleted
    with open(lock) as fh:
        assert fh.read() == "222:live"
    assert not [p for p in os.listdir(tmp_path) if ".break." in p]


def test_compact_partitioned_preserves_sort_order(spark, tmp_path):
    """A partition rewrite (read_table -> replace_partitions) given the
    table's sort order records it and re-clusters the rewritten files,
    so they still stats-prune."""
    import pandas as pd

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame(
        {"doc_id": range(400),
         "lang": ["en" if i % 2 else "de" for i in range(400)],
         "val": list(range(400))}
    )
    for lo in (0, 100, 200, 300):  # 4 small commits per partition
        write_table(
            spark.createDataFrame(pdf.iloc[lo:lo + 100]), path,
            partition_by=["lang"], sort_by=["val"],
        )
    snap = write_table(
        read_table(spark, path).repartition(4), path,
        mode="replace_partitions", partition_by=["lang"], sort_by=["val"],
    )
    assert snap["sort_by"] == ["val"]
    assert read_table(spark, path).count() == 400
    selected, total = stats_pruned_count(path, {"val": (0, 40)})
    assert 0 < selected < total  # clustering survived the rewrite
    assert _load_snapshots(path)[-1]["sort_by"] == ["val"]


def test_append_writes_o1_manifest_bytes(spark, tmp_path):
    """Manifest-list commits: a 1-file append to an N-file table writes
    one 1-entry manifest + one manifest list + one O(1) snapshot
    record; every pre-existing manifest file is untouched (carried by
    ref), at ANY table size (the r5 verdict's O(total files x history)
    rewrite is gone)."""
    import json
    import os

    import pandas as pd

    from remediner_spark.sources.table import _manifest_dir, live_files

    path = str(tmp_path / "tbl")
    pdf = pd.DataFrame({"doc_id": range(200), "val": range(200)})
    write_table(spark.createDataFrame(pdf).repartition(20), path)
    assert len(live_files(path)) == 20
    one = spark.createDataFrame(pd.DataFrame({"doc_id": [990], "val": [0]}))

    def manifest_state():
        d = _manifest_dir(path)
        return {
            n: (os.path.getsize(os.path.join(d, n)),
                os.path.getmtime(os.path.join(d, n)))
            for n in os.listdir(d)
        }

    def snapjson_size():
        return os.path.getsize(
            os.path.join(path, "_metadata", "snapshots.json")
        )

    deltas, manifest_sizes = [], []
    for _ in range(2):
        before, sz0 = manifest_state(), snapjson_size()
        write_table(one, path, mode="append")
        after = manifest_state()
        # every pre-existing manifest file is byte-identical
        assert all(after[n] == st for n, st in before.items())
        new = [n for n in after if n not in before]
        new_m = [n for n in new if n.startswith("m-")]
        new_ml = [n for n in new if n.startswith("ml-")]
        assert len(new_m) == 1 and len(new_ml) == 1 and len(new) == 2
        entries = json.load(
            open(os.path.join(_manifest_dir(path), new_m[0]))
        )
        assert len(entries) == 1  # exactly the appended file
        manifest_sizes.append(os.path.getsize(
            os.path.join(_manifest_dir(path), new_m[0])
        ))
        deltas.append(snapjson_size() - sz0)

    # grow the table by 30 more commits, then re-measure one append
    for _ in range(30):
        write_table(one, path, mode="append")
    before, sz0 = manifest_state(), snapjson_size()
    write_table(one, path, mode="append")
    after = manifest_state()
    assert all(after[n] == st for n, st in before.items())
    new_m = [n for n in after if n not in before and n.startswith("m-")]
    entries = json.load(open(os.path.join(_manifest_dir(path), new_m[0])))
    assert len(entries) == 1
    big_manifest = os.path.getsize(
        os.path.join(_manifest_dir(path), new_m[0])
    )
    big_delta = snapjson_size() - sz0
    # new-manifest bytes independent of table size; the snapshot record
    # grows only by ~one 40-byte manifest ref vs the 22-file table
    assert big_manifest <= 2 * manifest_sizes[0]
    assert big_delta <= deltas[0] + 300
    assert len(live_files(path)) == 53
    assert read_table(spark, path).count() == 233


def test_concurrent_appends_converge_with_retry(spark, tmp_path):
    """Four writer threads race one-row appends, retrying on
    CommitConflictError (the Iceberg client loop). Every committed row
    survives, snapshot ids stay strictly increasing and unique, and
    the tip's manifest list resolves to exactly the union of files —
    the optimistic-CAS + manifest-list machinery under real
    contention."""
    import threading

    import pandas as pd

    from remediner_spark.sources.table import (
        CommitConflictError,
        _load_snapshots,
        live_files,
        read_table,
    )

    path = str(tmp_path / "tbl")
    write_table(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(50), "val": range(50)})
        ),
        path,
    )

    errors: list[Exception] = []

    def writer(tid: int) -> None:
        try:
            for k in range(5):
                doc = 1000 + tid * 10 + k
                df = spark.createDataFrame(
                    pd.DataFrame({"doc_id": [doc], "val": [tid]})
                )
                for _attempt in range(40):
                    try:
                        write_table(df, path, mode="append")
                        break
                    except CommitConflictError:
                        continue
                else:
                    raise RuntimeError(f"writer {tid} starved on {doc}")
        except Exception as exc:  # surface thread failures to pytest
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    got = read_table(spark, path).toPandas()
    assert len(got) == 70
    want = set(range(50)) | {
        1000 + t * 10 + k for t in range(4) for k in range(5)
    }
    assert set(got["doc_id"]) == want  # nothing lost, nothing doubled
    snaps = _load_snapshots(path)
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == list(range(1, 22))  # 1 initial + 20 appends, no gaps
    assert snaps[-1]["total_rows"] == 70
    assert sum(f["rows"] for f in live_files(path)) == 70


def test_table_model_based_random_ops(spark, tmp_path):
    """Model-based interaction test: a seeded random sequence of
    append / upsert / range-delete / rename / widen / partition-spec
    evolution against a pandas reference model. After every step the
    live read equals the model, and every historical snapshot still
    time-travels to its recorded state — the pairwise tests above
    can't see cross-op interactions (e.g. a pending equality delete
    keyed on a column a later rename moved)."""
    import random

    import pandas as pd

    from remediner_spark.sources.table import (
        delete_range,
        evolve_partition_spec,
        read_table,
        rename_column,
        table_snapshots,
        upsert_rows,
        widen_column,
    )

    rng = random.Random(20260817)
    path = str(tmp_path / "tbl")
    next_id = 0
    val_col = "val"
    val_ts = "int32"

    def make_rows(n):
        nonlocal next_id
        rows = pd.DataFrame(
            {
                "doc_id": pd.array(
                    range(next_id, next_id + n), dtype="int64"
                ),
                val_col: pd.array(
                    [rng.randrange(1000) for _ in range(n)], dtype=val_ts
                ),
                "lang": [rng.choice(["en", "de"]) for _ in range(n)],
            }
        )
        next_id += n
        return rows

    def norm(df):
        out = df.sort_values("doc_id").reset_index(drop=True)
        out = out[sorted(out.columns)]
        for c in out.columns:
            if c != "lang":
                out[c] = out[c].astype("int64")
        return out

    model = make_rows(40)
    cur_spec = ["lang"]
    write_table(spark.createDataFrame(model), path, partition_by=cur_spec)
    history = {1: model.copy()}

    def check_live():
        pd.testing.assert_frame_equal(
            norm(read_table(spark, path).toPandas()), norm(model)
        )

    for _step in range(20):
        op = rng.choice(
            ["append", "upsert", "delete", "rename", "widen", "evolve"]
        )
        if op == "append":
            batch = make_rows(rng.randrange(1, 8))
            write_table(
                spark.createDataFrame(batch), path, mode="append",
                partition_by=cur_spec,
            )
            model = pd.concat([model, batch], ignore_index=True)
        elif op == "upsert" and len(model):
            keys = rng.sample(
                sorted(model["doc_id"]), k=min(4, len(model))
            )
            ups = model[model["doc_id"].isin(keys)].copy()
            ups[val_col] = pd.array(
                [rng.randrange(1000) for _ in range(len(ups))],
                dtype=val_ts,
            )
            new = make_rows(rng.randrange(0, 3))
            ups = pd.concat([ups, new], ignore_index=True)
            upsert_rows(spark, path, spark.createDataFrame(ups), ["doc_id"])
            model = pd.concat(
                [model[~model["doc_id"].isin(ups["doc_id"])], ups],
                ignore_index=True,
            )
        elif op == "delete" and len(model):
            lo = rng.randrange(900)
            hi = lo + rng.randrange(150)
            delete_range(spark, path, val_col, lo, hi)
            model = model[
                ~model[val_col].astype("int64").between(lo, hi)
            ].reset_index(drop=True)
        elif op == "rename":
            new_name = "score" if val_col == "val" else "val"
            rename_column(path, val_col, new_name)
            model = model.rename(columns={val_col: new_name})
            val_col = new_name
        elif op == "widen":
            widen_column(path, val_col, "long")
            val_ts = "int64"
            model[val_col] = model[val_col].astype("int64")
        elif op == "evolve":
            # toggle the spec: subsequent appends and upserts run
            # under the NEW spec while old files keep serving reads
            cur_spec = [] if cur_spec else ["lang"]
            evolve_partition_spec(path, cur_spec)
        check_live()
        tip = table_snapshots(path)[-1]["snapshot_id"]
        history[tip] = model.copy()

    # historical snapshots still time-travel to their recorded state
    assert set(history) == {s["snapshot_id"] for s in table_snapshots(path)}
    for sid, state in history.items():
        pd.testing.assert_frame_equal(
            norm(read_table(spark, path, snapshot_id=sid).toPandas()),
            norm(state),
        )


class TestPartitionEvolution:
    """evolve_partition_spec: metadata-only spec change; mixed-spec
    reads and pruning exactness."""

    def _counts(self, spark, path, **kw):
        from remediner_spark.sources.table import read_table

        return read_table(spark, path, **kw)

    def test_unpartitioned_to_partitioned(self, spark, tmp_path, pages_pdf):
        from remediner_spark.sources.table import (
            evolve_partition_spec, read_table, table_snapshots, write_table,
        )

        path = str(tmp_path / "tbl")
        write_table(spark.createDataFrame(pages_pdf.iloc[:60]), path)
        s = evolve_partition_spec(path, ["lang"])
        assert s["mode"] == "evolve-partition-spec"
        write_table(
            spark.createDataFrame(pages_pdf.iloc[60:]), path,
            mode="append", partition_by=["lang"],
        )
        # full read: both file generations, lang correct everywhere
        got = read_table(spark, path).toPandas()
        assert len(got) == 120
        expect = pages_pdf.sort_values("url").reset_index(drop=True)
        got = got.sort_values("url").reset_index(drop=True)
        assert list(got["lang"]) == list(expect["lang"])
        assert list(got["text"]) == list(expect["text"])
        # partition filter stays EXACT: old-spec files can't be pruned
        # but the row-level backstop filters them
        en = read_table(spark, path, partition_filter={"lang": "en"})
        assert en.count() == int((pages_pdf["lang"] == "en").sum())
        assert set(r["lang"] for r in en.select("lang").distinct().collect()) == {"en"}
        # time travel to the pre-evolution snapshot still works
        assert read_table(spark, path, snapshot_id=1).count() == 60
        assert [x["mode"] for x in table_snapshots(path)] == [
            "append", "evolve-partition-spec", "append",
        ]

    def test_partitioned_to_unpartitioned(self, spark, tmp_path, pages_pdf):
        from remediner_spark.sources.table import (
            evolve_partition_spec, read_table, write_table,
        )

        path = str(tmp_path / "tbl")
        write_table(
            spark.createDataFrame(pages_pdf.iloc[:60]), path,
            partition_by=["lang"],
        )
        evolve_partition_spec(path, [])
        write_table(spark.createDataFrame(pages_pdf.iloc[60:]), path,
                    mode="append")
        got = read_table(spark, path).toPandas()
        assert len(got) == 120
        # lang for OLD files comes from their manifest partition values
        expect = pages_pdf.sort_values("url").reset_index(drop=True)
        got = got.sort_values("url").reset_index(drop=True)
        assert list(got["lang"]) == list(expect["lang"])
        # a partition filter on the no-longer-partitioned column still
        # returns exactly the matching rows (old files prune, new ones
        # row-filter)
        de = read_table(spark, path, partition_filter={"lang": "de"})
        assert de.count() == int((pages_pdf["lang"] == "de").sum())

    def test_validation(self, spark, tmp_path, pages_pdf):
        from remediner_spark.sources.table import (
            evolve_partition_spec, write_table,
        )

        path = str(tmp_path / "tbl")
        write_table(spark.createDataFrame(pages_pdf.iloc[:20]), path)
        with pytest.raises(ValueError, match="not in schema"):
            evolve_partition_spec(path, ["nope"])
        with pytest.raises(ValueError, match="duplicate"):
            evolve_partition_spec(path, ["lang", "lang"])
        # appending under the OLD spec after evolution is refused with
        # guidance
        evolve_partition_spec(path, ["lang"])
        with pytest.raises(ValueError, match="evolve_partition_spec"):
            write_table(spark.createDataFrame(pages_pdf.iloc[20:40]),
                        path, mode="append")

    def test_mor_delete_survives_evolution(self, spark, tmp_path, pages_pdf):
        from remediner_spark.sources.table import (
            delete_range, evolve_partition_spec, read_table, write_table,
        )

        path = str(tmp_path / "tbl")
        write_table(spark.createDataFrame(pages_pdf.iloc[:60]), path,
                    partition_by=["lang"])
        # MoR predicate delete targeting the old-spec files
        urls = sorted(pages_pdf.iloc[:60]["url"])
        delete_range(spark, path, "url", lo=urls[0], hi=urls[9])
        evolve_partition_spec(path, [])
        write_table(spark.createDataFrame(pages_pdf.iloc[60:]), path,
                    mode="append")
        got = read_table(spark, path)
        assert got.count() == 120 - 10
        # the deleted urls stay deleted across the spec change
        assert got.filter(got["url"] <= urls[9]).count() == 0

    def test_ddl_guard_covers_legacy_spec_columns(self, spark, tmp_path,
                                                  pages_pdf):
        from remediner_spark.sources.table import (
            evolve_partition_spec, rename_column, write_table,
        )

        path = str(tmp_path / "tbl")
        write_table(spark.createDataFrame(pages_pdf.iloc[:30]), path,
                    partition_by=["lang"])
        evolve_partition_spec(path, [])
        # lang is no longer in the CURRENT spec, but live files still
        # source it from their directory-layout manifest values
        with pytest.raises(ValueError, match="partition column"):
            rename_column(path, "lang", "language")


class TestZOrder:
    def test_two_dim_pruning_beats_one_dim(self, spark, tmp_path):
        """Z-order by (a, b) gives every file a tight 2-D box: stats
        pruning fires for range predicates on EITHER column, where the
        1-D a-sorted layout prunes only on a."""
        import numpy as np
        import pandas as pd

        from remediner_spark.sources.table import (
            read_table, write_table, zorder_frame,
        )

        rng = np.random.RandomState(7)
        pdf = pd.DataFrame({
            "a": np.arange(4000, dtype="int64"),
            "b": rng.permutation(4000).astype("int64"),  # uncorrelated
            "v": rng.randint(0, 100, 4000).astype("int64"),
        })
        df = spark.createDataFrame(pdf)

        z_path = str(tmp_path / "ztbl")
        write_table(zorder_frame(df, ["a", "b"], n_files=16), z_path)
        s_path = str(tmp_path / "stbl")
        write_table(df.repartition(16), s_path, sort_by=["a"])

        filt = {"b": (0, 249)}  # 1/16 of the b domain
        z_sel, z_tot = stats_pruned_count(z_path, filt)
        s_sel, s_tot = stats_pruned_count(s_path, filt)
        # the 1-D a-sort spreads b across EVERY file (no pruning);
        # z-order scans a strictly smaller fraction on b
        assert s_sel == s_tot
        assert z_sel / z_tot < s_sel / s_tot, (z_sel, z_tot, s_sel, s_tot)
        # the trade: 1-D is tighter on its own column, but z-order
        # still prunes meaningfully on a too
        a_sel, a_tot = stats_pruned_count(z_path, {"a": (0, 249)})
        assert a_sel < a_tot
        # pruning is transparent: result equals full scan + filter
        got = sorted(
            r["a"] for r in read_table(
                spark, z_path, stats_filter=filt).collect()
        )
        expect = sorted(pdf[pdf["b"] <= 249]["a"].tolist())
        assert got == expect

    def test_validation_and_degenerate_span(self, spark):
        import pandas as pd

        from remediner_spark.sources.table import zorder_frame

        df = spark.createDataFrame(
            pd.DataFrame({"a": [1, 1, 1], "b": [3, 1, 2]})
        )
        with pytest.raises(ValueError):
            zorder_frame(df, [], 4)
        # constant column (span 0): no crash, rows preserved
        out = zorder_frame(df, ["a", "b"], 2)
        assert sorted(r["b"] for r in out.collect()) == [1, 2, 3]

    def test_many_column_bits_autoshrink(self, spark):
        """bits * k > 63 must not reach the sign bit or alias mod 64
        (r7 ADVICE): 5 columns at default bits=16 would put positions
        at 64+; the auto-shrunk key must order identically to an
        explicitly-safe bits value."""
        import pandas as pd

        from remediner_spark.sources.table import zorder_frame

        pdf = pd.DataFrame(
            {c: [(i * (j + 3)) % 17 for i in range(40)]
             for j, c in enumerate("abcde")}
        )
        df = spark.createDataFrame(pdf)
        cols = list("abcde")
        auto = zorder_frame(df, cols, n_files=1).collect()
        explicit = zorder_frame(df, cols, n_files=1, bits=12).collect()
        assert [tuple(r) for r in auto] == [tuple(r) for r in explicit]


class TestBoolPartitionFilter:
    def test_bool_filter_matches_hive_convention(self, spark, tmp_path):
        """partition_filter={'flag': True} on a bool-partitioned table
        (Hive dirs flag=true/flag=false) must return the true rows —
        str(True)='True' previously matched nothing in both the
        manifest layer and the row backstop (r7 ADVICE)."""
        import pandas as pd

        from remediner_spark.sources.table import read_table, write_table

        path = str(tmp_path / "boolpart")
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(10),
                          "flag": [i % 2 == 0 for i in range(10)]})
        )
        write_table(df, path, partition_by=["flag"])
        got = read_table(spark, path, partition_filter={"flag": True})
        ids = sorted(r["doc_id"] for r in got.collect())
        assert ids == [0, 2, 4, 6, 8]
        got_f = read_table(
            spark, path, partition_filter={"flag": [False]}
        )
        assert sorted(r["doc_id"] for r in got_f.collect()) == [1, 3, 5, 7, 9]
