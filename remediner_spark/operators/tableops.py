"""Oracle-gated reads over the Iceberg-style table format.

The table format (sources/table.py) is exercised by unit tests, but
these entries put its row-level semantics under the SAME
cross-engine hash gate as every other operator: a deterministic table
is materialized ONCE per sf (side-file pattern, like the IVF
centroids), mutated through the merge-on-read write paths, and the
``read_table`` scan — equality-delete anti-joins, predicate-delete
complements, field-id projection after rename/widen — must reproduce
exactly what DuckDB computes relationally from the source parquet.

* ``table_mor_read``: sorted table -> MoR upsert (equality-delete) ->
  MoR range delete (metadata drop + predicate delete) -> read.
* ``table_evolution_read``: int column -> widen to long -> rename ->
  append past-int-range row -> read through the field-id mapping.
* ``table_pspec_read``: unpartitioned files -> evolve_partition_spec
  -> lang-partitioned files -> partition-filtered read over BOTH
  generations (manifest pruning + the row-level backstop).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLEOPS_VERSION = 1

# MoR scenario constants (shared by the Spark build and the SQL oracle)
UPD_EVERY = 50  # every doc_id % 50 == 0 gets n_chars := -1 via MoR upsert
DEL_LO, DEL_HI = 100, 199  # then DELETE WHERE doc_id BETWEEN 100 AND 199
WIDE_SENTINEL = 1 << 40  # appended after int->long widening


def _cache_dir(kind: str, sf_dir: str) -> str:
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        repo, ".kg_oracle", f"table_{kind}_v{TABLEOPS_VERSION}_{sf_name}"
    )


def _build_once(out: str, build) -> str:
    """Materialize into a tmp dir, atomically rename into place; a
    concurrent loser just discards its tmp (content is deterministic,
    so whichever build wins is correct). The manifest stores absolute
    file paths, so they are retargeted from the tmp prefix before the
    rename."""
    if os.path.exists(os.path.join(out, "_metadata", "snapshots.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    # retarget EVERY metadata json from the tmp prefix: absolute paths
    # live in snapshots.json (manifest_list refs, delete entries) AND
    # in the manifest-list / manifest files themselves (file entries)
    meta = os.path.join(tmp, "_metadata")
    for root, _dirs, names in os.walk(meta):
        for name in names:
            if not name.endswith(".json"):
                continue
            fpath = os.path.join(root, name)
            with open(fpath) as fh:
                content = fh.read()
            if tmp in content:
                with open(fpath, "w") as fh:
                    fh.write(content.replace(tmp, out))
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    # the manifest cache (sources.table._load_json_cached) may hold the
    # PRE-retarget tmp-prefixed entries under the renamed paths —
    # drop it so the first read reloads the rewritten files
    from ..sources import table as _table

    _table._MANIFEST_CACHE.clear()
    return out


def _ensure_mor_table(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.table import delete_range, upsert_rows, write_table

    def build(path: str) -> None:
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "n_chars")
        )
        write_table(docs.repartition(8), path, sort_by=["doc_id"])
        updates = docs.filter(F.col("doc_id") % UPD_EVERY == 0).select(
            "doc_id", F.lit(-1).cast("long").alias("n_chars")
        )
        upsert_rows(spark, path, updates, ["doc_id"])
        delete_range(spark, path, "doc_id", DEL_LO, DEL_HI)

    return _build_once(_cache_dir("mor", sf_dir), build)


def q_table_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read scan: the equality-delete (upsert keys) and the
    predicate-delete (range) apply at read time against untouched data
    files; rows must equal the relational recomputation exactly."""
    from ..sources.table import read_table

    path = _ensure_mor_table(spark, sf_dir)
    return read_table(spark, path).select(
        "doc_id", F.col("n_chars").alias("val")
    )


SQL_TABLE_MOR_READ = f"""
SELECT doc_id,
       CASE WHEN doc_id % {UPD_EVERY} = 0 THEN CAST(-1 AS BIGINT)
            ELSE n_chars END AS val
FROM documents
WHERE doc_id NOT BETWEEN {DEL_LO} AND {DEL_HI}"""


def _ensure_evolution_table(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.table import rename_column, widen_column, write_table

    def build(path: str) -> None:
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.col("n_chars").cast("int").alias("n")
        )
        write_table(base.repartition(4), path, sort_by=["doc_id"])
        widen_column(path, "n", "long")
        rename_column(path, "n", "text_len")
        extra = spark.createDataFrame(
            [(-1, WIDE_SENTINEL)], "doc_id long, text_len long"
        )
        write_table(extra, path, mode="append")

    return _build_once(_cache_dir("evo", sf_dir), build)


def q_table_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-id evolution scan: pre-evolution int files read through
    the widen cast and the rename mapping; the post-evolution append
    carries a value only the widened type can hold."""
    from ..sources.table import read_table

    path = _ensure_evolution_table(spark, sf_dir)
    return read_table(spark, path).select("doc_id", "text_len")


SQL_TABLE_EVOLUTION_READ = f"""
SELECT doc_id, CAST(n_chars AS BIGINT) AS text_len FROM documents
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST({WIDE_SENTINEL} AS BIGINT)"""


PSPEC_SHIFT = 1_000_000  # second-generation doc_ids (post spec change)
PSPEC_LANGS = ("en", "de")  # partition filter exercised by the gate


def _ensure_pspec_table(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.table import evolve_partition_spec, write_table

    def build(path: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "source"
        )
        # generation 1: unpartitioned files (lang lives in the data)
        write_table(docs.repartition(4), path)
        # spec change: metadata-only commit
        evolve_partition_spec(path, ["lang"])
        # generation 2: lang-partitioned files (lang lives in the
        # directory layout / manifest entries)
        shifted = docs.withColumn(
            "doc_id", F.col("doc_id") + PSPEC_SHIFT
        )
        write_table(shifted, path, mode="append", partition_by=["lang"])

    return _build_once(_cache_dir("pspec", sf_dir), build)


def q_table_pspec_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-evolution scan with a partition filter: generation-2
    files prune on their manifest partition values; generation-1 files
    cannot prune (no such key in their entries) and are row-filtered
    by read_table's backstop — the result must equal the relational
    recomputation exactly, lang sourced from data and manifest
    respectively."""
    from ..sources.table import read_table

    path = _ensure_pspec_table(spark, sf_dir)
    return read_table(
        spark, path, partition_filter={"lang": list(PSPEC_LANGS)}
    ).select("doc_id", "lang", "source")


SQL_TABLE_PSPEC_READ = f"""
WITH both_gens AS (
  SELECT doc_id, lang, source FROM documents
  UNION ALL
  SELECT doc_id + {PSPEC_SHIFT}, lang, source FROM documents)
SELECT doc_id, lang, source FROM both_gens
WHERE lang IN ('{PSPEC_LANGS[0]}', '{PSPEC_LANGS[1]}')"""


# z-order scenario: cluster on (doc_id, n_chars), then a stats-filtered
# read on the NON-leading dimension must still equal the relational
# recomputation exactly (pruning is a transparent optimization)
ZORD_LO, ZORD_HI = 200, 900  # n_chars range filter


def _ensure_zorder_table(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.table import write_table, zorder_frame

    def build(path: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "n_chars", "lang"
        )
        write_table(zorder_frame(docs, ["doc_id", "n_chars"], 8), path)

    return _build_once(_cache_dir("zorder", sf_dir), build)


def q_table_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-filtered read over a z-ordered table: files prune on the
    n_chars dimension via their Morton-box footer stats, and the
    row-level re-application keeps the result exact."""
    from ..sources.table import read_table

    path = _ensure_zorder_table(spark, sf_dir)
    return read_table(
        spark, path, stats_filter={"n_chars": (ZORD_LO, ZORD_HI)}
    ).select("doc_id", "n_chars", "lang")


SQL_TABLE_ZORDER_READ = f"""
SELECT doc_id, n_chars, lang FROM documents
WHERE n_chars BETWEEN {ZORD_LO} AND {ZORD_HI}"""


QUERIES = {
    "table_mor_read": q_table_mor_read,
    "table_evolution_read": q_table_evolution_read,
    "table_pspec_read": q_table_pspec_read,
    "table_zorder_read": q_table_zorder_read,
}

ORACLES = {
    "table_mor_read": SQL_TABLE_MOR_READ,
    "table_evolution_read": SQL_TABLE_EVOLUTION_READ,
    "table_pspec_read": SQL_TABLE_PSPEC_READ,
    "table_zorder_read": SQL_TABLE_ZORDER_READ,
}
