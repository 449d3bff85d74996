"""Iceberg-style table format on plain parquet (no external jars).

The north rule targets "Iceberg tables of Common-Crawl-style web
pages"; this sandbox has no Iceberg runtime, so this module implements
the load-bearing subset of the table-format contract the engine needs,
the way Iceberg does it — metadata-driven, snapshot-based:

* **Snapshots**: every write (append / overwrite) creates an immutable
  snapshot describing exactly the data files it contains. Old files
  are never deleted by overwrite, so any historical snapshot remains
  readable (time travel).
* **Manifest lists** (Iceberg spec shape): a snapshot holds REFS to
  immutable per-commit manifest files (JSON under
  ``_metadata/manifests/``), each listing file entries (path,
  partition values, row count, column stats). An append writes ONE new
  manifest and carries every earlier ref untouched — commit cost is
  O(new files), independent of table size and history depth.
  Subtractive commits rewrite only the manifests containing a removed
  file. Readers plan from the manifests, never from directory listing.
* **Partition pruning**: `read_table(..., partition_filter=...)`
  selects matching files from the manifests and hands ONLY those to
  `spark.read.parquet` — the scan never touches pruned partitions.
* **Schema check**: appends must carry the table schema (same names &
  types); mismatches fail at write time.

At 100 TB the manifest write becomes a distributed job and the JSON
becomes avro/parquet; the structural contract (snapshot -> manifest
list -> manifests -> files, prune before scan, snapshot pinning) is
exactly Iceberg's.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def _meta_dir(path: str) -> str:
    return os.path.join(path, "_metadata")


def _snapshots_file(path: str) -> str:
    return os.path.join(_meta_dir(path), "snapshots.json")


def _load_snapshots(path: str) -> list[dict]:
    f = _snapshots_file(path)
    if not os.path.exists(f):
        return []
    with open(f) as fh:
        snapshots = json.load(fh)
    # a table on disk is outside input: column identity is the field
    # id, so a snapshot without ids cannot be read or evolved safely
    for snap in snapshots:
        if "last_field_id" not in snap or any(
            _field_id(f) is None for f in snap["schema"]["fields"]
        ):
            raise ValueError(
                f"table {path}: snapshot {snap.get('snapshot_id')} "
                "carries no field ids"
            )
    return snapshots


def _save_snapshots(path: str, snapshots: list[dict]) -> None:
    os.makedirs(_meta_dir(path), exist_ok=True)
    tmp = _snapshots_file(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(snapshots, fh, indent=1)
    os.replace(tmp, _snapshots_file(path))


# ------------------------------------------------------------------
# Manifest list (Iceberg spec shape). A snapshot does NOT embed its
# file entries: it holds ONE ref to a manifest-list file, which lists
# MANIFEST REFS — each an immutable JSON file under
# _metadata/manifests/ written once and shared by every subsequent
# snapshot that carries it. An append therefore writes O(new files)
# manifest bytes — one new manifest, one manifest list (~40 bytes per
# carried ref), one O(1) snapshot record — regardless of table size.
# Subtractive commits (replace_partitions, a range delete's dropped
# files) rewrite ONLY the manifests that contain a removed file;
# untouched manifests are carried by ref.


def _manifest_dir(path: str) -> str:
    return os.path.join(_meta_dir(path), "manifests")


# manifests are immutable once written, so a process-wide cache by
# absolute file path is sound; bounded to keep long sessions flat
_MANIFEST_CACHE: dict[str, list[dict]] = {}
_MANIFEST_CACHE_CAP = 256


def _write_manifest(path: str, entries: list[dict]) -> str:
    """Write one immutable manifest file; returns its ref (basename)."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    ref = f"m-{uuid.uuid4().hex[:16]}.json"
    fpath = os.path.join(_manifest_dir(path), ref)
    tmp = fpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entries, fh)
    os.replace(tmp, fpath)
    return ref


def _load_json_cached(fpath: str):
    entry = _MANIFEST_CACHE.get(fpath)
    if entry is None:
        with open(fpath) as fh:
            entry = json.load(fh)
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.clear()
        _MANIFEST_CACHE[fpath] = entry
    return entry


def _load_manifest(path: str, ref: str) -> list[dict]:
    return _load_json_cached(os.path.join(_manifest_dir(path), ref))


def _write_manifest_list(path: str, refs: list[str]) -> str:
    """Write the snapshot's manifest list (Iceberg: snapshot ->
    manifest-list file -> manifests -> data files); returns its ref.
    O(number of manifests) bytes — ~40 per ref — so the snapshot
    record itself stays O(1) and snapshots.json grows linearly with
    history, never with table size."""
    os.makedirs(_manifest_dir(path), exist_ok=True)
    ref = f"ml-{uuid.uuid4().hex[:16]}.json"
    fpath = os.path.join(_manifest_dir(path), ref)
    tmp = fpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(refs, fh)
    os.replace(tmp, fpath)
    return ref


def _snap_refs(path: str, snap: dict) -> list[str]:
    """The snapshot's manifest refs, resolved through its manifest-list
    file."""
    return _load_json_cached(
        os.path.join(_manifest_dir(path), snap["manifest_list"])
    )


def _snap_files(path: str, snap: dict) -> list[dict]:
    """The snapshot's data-file entries, resolved through its manifest
    list. The returned list is fresh but the entry dicts are SHARED
    with the cache — copy before mutating. Every entry must carry its
    field-id mapping (_stamp_field_mapping)."""
    out: list[dict] = []
    for ref in _snap_refs(path, snap):
        entries = _load_manifest(path, ref)
        if any("fields" not in e for e in entries):
            raise ValueError(
                f"table {path}: manifest {ref} holds file entries "
                "without a field-id mapping"
            )
        out.extend(entries)
    return out


def live_files(path: str) -> list[dict]:
    """Public manifest introspection: the file entries of the current
    snapshot."""
    snapshots = _load_snapshots(path)
    if not snapshots:
        raise FileNotFoundError(f"no table at {path}")
    return _snap_files(path, snapshots[-1])


def _next_manifests(
    path: str,
    prev_snap: dict | None,
    removed_paths: set[str],
    new_files: list[dict],
) -> tuple[list[str], list[dict]]:
    """Manifest refs for the next snapshot: carry every previous
    manifest untouched by ``removed_paths`` BY REFERENCE, rewrite only
    the manifests that contain a removed file (keeping survivors), and
    append one new manifest for ``new_files``. Returns
    (refs, all file entries) — commit cost is O(new + touched-manifest
    entries), never O(table)."""
    refs: list[str] = []
    files: list[dict] = []
    for ref in _snap_refs(path, prev_snap) if prev_snap else []:
        entries = _load_manifest(path, ref)
        if not (removed_paths and any(
            e["path"] in removed_paths for e in entries
        )):
            refs.append(ref)
            files.extend(entries)
            continue
        survivors = [e for e in entries if e["path"] not in removed_paths]
        if survivors:
            refs.append(_write_manifest(path, survivors))
            files.extend(survivors)
    if new_files:
        refs.append(_write_manifest(path, new_files))
        files.extend(new_files)
    return refs, files


class CommitConflictError(RuntimeError):
    """Another writer committed between this operation's planning read
    and its commit. The operation's file set was computed against a
    stale snapshot — re-run it against the current table state (the
    Iceberg client retries exactly this way)."""


def _break_stale_lock(lock: str, stale_s: float) -> None:
    """Remove ``lock`` ONLY if it is still the same stale file observed
    at the start (same inode + mtime). Two waiters racing a stale lock
    could otherwise both observe staleness and the slower ``os.remove``
    would delete the faster waiter's FRESH lock, letting two committers
    run concurrently (r5 ADVICE TOCTOU). The claim step is an atomic
    rename to a unique tombstone: exactly one breaker wins it, and the
    inode check afterwards proves the claimed file is the stale one —
    a fresh lock claimed by mistake (created between stat and rename)
    is renamed straight back."""
    try:
        st = os.stat(lock)
    except OSError:
        return
    if time.time() - st.st_mtime <= stale_s:
        return
    tomb = f"{lock}.break.{uuid.uuid4().hex[:8]}"
    try:
        os.rename(lock, tomb)
    except OSError:
        return  # someone else claimed it first
    try:
        if os.stat(tomb).st_ino == st.st_ino:
            os.remove(tomb)  # verified: broke the stale lock
            return
    except OSError:
        return
    # claimed a FRESH lock (created after our stat): restore it
    try:
        os.rename(tomb, lock)
    except OSError:
        with contextlib.suppress(OSError):
            os.remove(tomb)


@contextlib.contextmanager
def _commit_lock(path: str, timeout_s: float = 60.0, stale_s: float = 300.0):
    """O_EXCL lockfile serializing manifest commits on one host. Locks
    older than ``stale_s`` are presumed crashed holders and broken via
    the stat-verified rename in _break_stale_lock (never a bare remove
    of whatever file currently sits at the lock path)."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    lock = os.path.join(_meta_dir(path), "commit.lock")
    t0 = time.time()
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            # pid + nonce: diagnosable ownership, and every lock file's
            # content is unique (breakers compare inodes, not content)
            os.write(fd, f"{os.getpid()}:{uuid.uuid4().hex}".encode())
            os.close(fd)
            break
        except FileExistsError:
            _break_stale_lock(lock, stale_s)
            if time.time() - t0 > timeout_s:
                raise TimeoutError(f"commit lock busy: {lock}")
            time.sleep(0.05)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.remove(lock)


def _commit_snapshot(path: str, base_snapshot_id: int, snapshot: dict) -> None:
    """Optimistic-concurrency append (Iceberg commit semantics): the
    new snapshot's file set was planned against ``base_snapshot_id``;
    under the commit lock, verify the table tip hasn't moved, then
    append atomically. A moved tip means a concurrent writer's files
    would be silently dropped or double-counted — raise instead."""
    with _commit_lock(path):
        current = _load_snapshots(path)
        tip = current[-1]["snapshot_id"] if current else 0
        if tip != base_snapshot_id:
            raise CommitConflictError(
                f"table tip advanced to snapshot {tip} while this commit "
                f"planned against {base_snapshot_id}"
            )
        _save_snapshots(path, current + [snapshot])


def _assign_field_ids(schema_json: dict, start: int = 1) -> tuple[dict, int]:
    """Give every top-level field a stable ``field_id`` (Iceberg
    semantics: identity is the id, not the name — rename is metadata,
    re-adding a dropped name is a NEW column that never resurrects old
    data). Returns (schema, last_field_id)."""
    fields = []
    nxt = start
    for f in schema_json["fields"]:
        meta = dict(f.get("metadata") or {})
        if "field_id" not in meta:
            meta["field_id"] = nxt
            nxt += 1
        fields.append({**f, "metadata": meta})
    return {**schema_json, "fields": fields}, nxt - 1


def _field_id(field: dict):
    return (field.get("metadata") or {}).get("field_id")


def _datatype_from_json(t):
    """Spark DataType from a schema-json type value (str or dict)."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "x", "type": t, "nullable": True, "metadata": {}}
            ],
        }
    ).fields[0].dataType


def _sans_nullability(t):
    """A schema-json type value with its nullability flags dropped.
    Spark reads files back all-nullable (a written
    ``array<string, containsNull=false>`` returns as ``array<string>``)
    and refuses to cast nullability back on, so nullability is not part
    of a column's type identity."""
    if isinstance(t, dict):
        return {
            k: _sans_nullability(v) for k, v in t.items()
            if k not in ("nullable", "containsNull", "valueContainsNull")
        }
    if isinstance(t, list):
        return [_sans_nullability(v) for v in t]
    return t


def _stamp_field_mapping(
    entries: list[dict], schema_json: dict, partition_by: list[str]
) -> None:
    """Record, per data file, the physical (name, type) each field_id
    was WRITTEN under — the read side maps old files through ids after
    rename/drop/widen."""
    mapping = {
        str(_field_id(f)): {"name": f["name"], "type": f["type"]}
        for f in schema_json["fields"]
        if f["name"] not in partition_by
    }
    for e in entries:
        e["fields"] = mapping


def _filter_str(v) -> str:
    """The ONE to-string convention for partition-filter values: the
    Hive directory encoding Spark itself writes (bool -> 'true'/
    'false'), which is also what cast-to-string produces in
    read_table's row-level backstop. Without it str(True) = 'True'
    matched nothing in EITHER layer and a bool filter silently
    returned empty (r7 ADVICE)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _partition_match(file_entry: dict, partition_filter: dict) -> bool:
    """True when the file's partition values satisfy the filter; a
    filter value may be a scalar (equality) or a list/tuple/set
    (membership) — multi-partition reads prune in one pass.

    A file that lacks the filter key entirely (written under a
    DIFFERENT partition spec, before/after evolve_partition_spec) is
    KEPT — pruning only on evidence; read_table applies the same
    predicate row-level so the result stays exact either way."""
    for k, v in partition_filter.items():
        if k not in file_entry["partition"]:
            continue  # other-spec file: cannot prune on this key
        got = file_entry["partition"][k]
        if isinstance(v, (list, tuple, set, frozenset)):
            if got not in {_filter_str(x) for x in v}:
                return False
        elif got != _filter_str(v):
            return False
    return True


# column-stat limits: strings longer than this are skipped (parquet
# writers may truncate or omit long BYTE_ARRAY statistics, and a
# truncated max used as an upper bound would FALSELY prune files)
_STATS_MAX_STR = 60


def _stats_value(v):
    """Canonical JSON-safe form of a stats bound; None = unusable.
    Timestamps serialize as ISO strings (lexicographic == chronological
    for a fixed format), numerics/strings as-is."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):  # after datetime (its subclass)
        return v.isoformat()
    return None


def _file_column_stats(pf) -> tuple[dict, list[str]]:
    """(``{col: [min, max]}``, ``nullfree`` column list) from the
    parquet FOOTER (no data scan). A column's range is recorded only
    when every row group has exact min/max of a serializable type —
    absence means 'unprunable', never 'empty'. A column is ``nullfree``
    only when every row group REPORTS null_count == 0 (parquet min/max
    ignore NULLs, so range stats alone never prove a file has no NULL
    rows — delete_range's metadata-only drop needs this flag). Nested
    columns are skipped."""
    md = pf.metadata
    ncols = md.num_columns
    mins: list = [None] * ncols
    maxs: list = [None] * ncols
    ok = [True] * ncols
    nullfree_ok = [True] * ncols
    for rg in range(md.num_row_groups):
        for ci in range(ncols):
            st = md.row_group(rg).column(ci).statistics
            if nullfree_ok[ci] and (
                st is None or not st.has_null_count or st.null_count != 0
            ):
                nullfree_ok[ci] = False
            if not ok[ci]:
                continue
            if st is None or not st.has_min_max:
                ok[ci] = False
                continue
            lo, hi = _stats_value(st.min), _stats_value(st.max)
            if lo is None or hi is None:
                ok[ci] = False
                continue
            mins[ci] = lo if mins[ci] is None else min(mins[ci], lo)
            maxs[ci] = hi if maxs[ci] is None else max(maxs[ci], hi)
    out = {}
    nullfree: list[str] = []
    for ci in range(ncols):
        name = md.schema.column(ci).path
        if "." in name or md.num_row_groups == 0:
            continue
        if ok[ci]:
            out[name] = [mins[ci], maxs[ci]]
        if nullfree_ok[ci]:
            nullfree.append(name)
    return out, nullfree


# bare ISO date vs ISO datetime string bounds: a date compares as its
# midnight instant, exactly Spark's date->timestamp cast semantics
_ISO_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")
_ISO_DT_RE = re.compile(r"\d{4}-\d{2}-\d{2}T")


def _cmp_stats(a, b):
    """Compare two canonicalized stat bounds: -1/0/1, or None when the
    representations are incomparable (mixed numeric/string, bools) —
    callers must treat None conservatively (keep the file / rewrite).
    Date-column stats are stored as 'YYYY-MM-DD' while datetime bounds
    canonicalize to 'YYYY-MM-DDTHH:MM:SS'; comparing those raw would
    falsely prune a file whose max date equals the bound's date, so a
    bare date is promoted to its midnight instant when the other side
    is a datetime (matching Spark's row-level date->timestamp cast)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (a > b) - (a < b)
    if isinstance(a, str) and isinstance(b, str):
        if _ISO_DATE_RE.fullmatch(a) and _ISO_DT_RE.match(b):
            a = a + "T00:00:00"
        elif _ISO_DATE_RE.fullmatch(b) and _ISO_DT_RE.match(a):
            b = b + "T00:00:00"
        return (a > b) - (a < b)
    return None


def _physical_col(file_entry: dict, col: str, schema_json: dict):
    """The write-time physical name of CURRENT-schema column ``col``
    in this file, resolved through the field-id mapping (after a
    rename the footer stats stay keyed by the old name). Returns None
    when the field does not exist in the file (added/dropped), and
    ``col`` itself when the current schema has no such column."""
    mapping = file_entry["fields"]
    for f in schema_json["fields"]:
        if f["name"] == col:
            ent = mapping.get(str(_field_id(f)))
            return ent["name"] if ent is not None else None
    return col


def _stats_match(
    file_entry: dict, stats_filter: dict, schema_json: dict
) -> bool:
    """True unless some column's recorded [min, max] is PROVABLY
    disjoint from the requested [lo, hi] (None bound = unbounded).
    Files without stats for a column, or whose stored representation
    is incomparable with the bound's, are kept — skipping is an
    optimization, never a correctness gate. Filter columns resolve to
    each file's physical name through the field-id mapping, so
    skipping keeps biting after a rename."""
    stats = file_entry.get("stats") or {}
    for col, (lo, hi) in stats_filter.items():
        pcol = _physical_col(file_entry, col, schema_json)
        if pcol is None:
            # the field does not exist in this file (pre-add or
            # dropped): every row reads NULL, and any bounded range
            # predicate excludes NULL rows — prune the whole file
            if lo is not None or hi is not None:
                return False
            continue
        if pcol not in stats:
            continue
        fmin, fmax = stats[pcol]
        lo_c, hi_c = _stats_value(lo), _stats_value(hi)
        if lo_c is not None:
            c = _cmp_stats(fmax, lo_c)
            if c is not None and c < 0:
                return False
        if hi_c is not None:
            c = _cmp_stats(fmin, hi_c)
            if c is not None and c > 0:
                return False
    return True


def _collect_file_entries(data_dir: str, partition_by: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    entries = []
    for root, _dirs, files in os.walk(data_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(root, name)
            rel = os.path.relpath(fpath, data_dir)
            partition = {}
            for seg in rel.split(os.sep)[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    # Spark Hive-escapes special chars into the dir
                    # token (a=b -> a%3Db, 50%off -> 50%25off); the
                    # manifest must store the REAL value or filters
                    # and recovered columns carry escaped garbage.
                    # unquote is the exact inverse: Spark always
                    # escapes a literal '%', so every %XX here is an
                    # escape.
                    partition[unquote(k)] = unquote(v)
            pf = pq.ParquetFile(fpath)
            stats, nullfree = _file_column_stats(pf)
            entries.append(
                {
                    "path": fpath,
                    "partition": partition,
                    "rows": pf.metadata.num_rows,
                    # footer min/max per column: the Iceberg
                    # data-skipping stats (value-range pruning beyond
                    # partition pruning), free at write time; nullfree
                    # lists columns with PROVEN null_count == 0 in
                    # every row group (metadata-only deletes gate on it)
                    "stats": stats,
                    "nullfree": nullfree,
                }
            )
    return entries


def _write_data_files(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None,
    schema_json: dict,
) -> tuple[str, list[dict]]:
    """Write ``df`` as one commit's data files under
    ``data/commit=<id>``, clustered on ``sort_by`` when given; returns
    (commit id, manifest entries stamped with the field-id mapping)."""
    commit_id = uuid.uuid4().hex[:12]
    data_dir = os.path.join(path, "data", f"commit={commit_id}")
    if sort_by:
        n_out = df.rdd.getNumPartitions()
        df = df.repartitionByRange(max(n_out, 1), *sort_by).sortWithinPartitions(
            *sort_by
        )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    new_files = _collect_file_entries(data_dir, partition_by)
    _stamp_field_mapping(new_files, schema_json, partition_by)
    return commit_id, new_files


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    properties: dict | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """Write a snapshot; returns the snapshot record.

    ``properties`` rides inside the snapshot record (committed in the
    SAME atomic manifest rename as the data) — the Iceberg
    snapshot-properties mechanism writers use for exactly-once
    bookkeeping (e.g. streaming (scope, batch_id) markers).

    ``sort_by`` is the Iceberg SORT ORDER: rows are range-partitioned
    and sorted on these columns before writing, so each data file
    covers a TIGHT value range and the footer min/max stats
    (data-skipping reads, ``read_table(stats_filter=...)``) prune
    files instead of merely describing them. Without clustering, every
    file's range spans the whole domain and stats skip nothing."""
    partition_by = partition_by or []
    snapshots = _load_snapshots(path)
    if snapshots:
        prev_schema = snapshots[-1]["schema"]
        cur_schema = df.schema.jsonValue()
        # NAME-BASED compatibility (Iceberg semantics): every existing
        # column must keep its type; NEW columns may be ADDED (schema
        # evolution — old files simply lack them and read as null via
        # mergeSchema); column ORDER is not identity. Nullability is
        # not part of the contract either (path-recovered partition
        # columns come back non-nullable, and Iceberg treats
        # nullability as evolvable).
        def _types(schema):
            return {f["name"]: f["type"] for f in schema["fields"]}

        prev_t, cur_t = _types(prev_schema), _types(cur_schema)
        missing = [c for c in prev_t if c not in cur_t]
        changed = [
            c for c in prev_t
            if c in cur_t
            and _sans_nullability(cur_t[c]) != _sans_nullability(prev_t[c])
        ]
        if missing or changed:
            raise ValueError(
                "schema mismatch vs table schema: "
                f"missing columns {missing}, type changes {changed} "
                f"(adding new columns is allowed; dropping or retyping "
                f"is not)"
            )
        added = [c for c in cur_t if c not in prev_t]
        if added:
            # evolve: the snapshot records the WIDENED schema — the
            # PREVIOUS field dicts keep their positions AND field ids,
            # new columns append with freshly assigned ids; earlier
            # snapshots keep theirs, so time travel sees the schema of
            # its day
            by_name = {f["name"]: f for f in cur_schema["fields"]}
            last_field_id = snapshots[-1]["last_field_id"]
            new_fields = []
            for c in added:
                last_field_id += 1
                new_fields.append({
                    **by_name[c],
                    "metadata": {
                        **(by_name[c].get("metadata") or {}),
                        "field_id": last_field_id,
                    },
                })
            cur_schema = {
                **cur_schema,
                "fields": list(prev_schema["fields"]) + new_fields,
            }
        else:
            cur_schema = prev_schema
            last_field_id = snapshots[-1]["last_field_id"]
        prev_partition = snapshots[-1]["partition_by"]
        if prev_partition != partition_by:
            raise ValueError(
                f"partition spec mismatch: {prev_partition} != "
                f"{partition_by} (change the spec first with "
                "evolve_partition_spec — existing files keep serving "
                "reads under their own spec)"
            )
    if not snapshots:
        cur_schema, last_field_id = _assign_field_ids(df.schema.jsonValue())
    commit_id, new_files = _write_data_files(
        df, path, partition_by, sort_by, cur_schema
    )
    prev = snapshots[-1] if snapshots else None
    if mode == "append" and prev is not None:
        # O(new files) append: previous manifests carry BY REF without
        # ever being loaded; no path leaves the table, so merge-on-read
        # delete entries carry unchanged and total_rows is a running sum
        refs = list(_snap_refs(path, prev)) + (
            [_write_manifest(path, new_files)] if new_files else []
        )
        delete_files = [dict(d) for d in prev.get("delete_files") or []]
        total_rows = prev["total_rows"] + sum(f["rows"] for f in new_files)
    elif mode in ("overwrite", "append"):
        # overwrite starts a fresh file set (old files stay on disk for
        # time travel); no old path survives, so no delete entry can
        refs = [_write_manifest(path, new_files)] if new_files else []
        delete_files = []
        total_rows = sum(f["rows"] for f in new_files)
    elif mode == "replace_partitions":
        # Iceberg MERGE-INTO file semantics: the new files REPLACE the
        # previous files of the partitions they land in; untouched
        # partitions keep their old files (and their manifests carry by
        # ref — only manifests holding a replaced file are rewritten).
        if not partition_by:
            raise ValueError("replace_partitions requires partition_by")
        touched = {
            tuple(sorted(f["partition"].items())) for f in new_files
        }
        removed = {
            f["path"]
            for f in (_snap_files(path, prev) if prev else [])
            if tuple(sorted(f["partition"].items())) in touched
        }
        refs, files = _next_manifests(path, prev, removed, new_files)
        # merge-on-read delete entries follow their targeted files:
        # pruned when a target leaves the manifest
        delete_files = (
            _carry_delete_files(prev, {f["path"] for f in files})
            if prev else []
        )
        total_rows = sum(f["rows"] for f in files)
    else:
        raise ValueError(f"unsupported mode {mode!r}")
    snapshot = {
        "snapshot_id": (snapshots[-1]["snapshot_id"] + 1) if snapshots else 1,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "mode": mode,
        "commit": commit_id,
        "schema": cur_schema,
        "last_field_id": last_field_id,
        "partition_by": partition_by,
        "sort_by": sort_by or [],
        "manifest_list": _write_manifest_list(path, refs),
        "delete_files": delete_files,
        # physical data-file row count; MoR delete entries subtract at
        # read time (same nuance as Iceberg's total-records)
        "total_rows": total_rows,
        "properties": properties or {},
    }
    _commit_snapshot(
        path, snapshots[-1]["snapshot_id"] if snapshots else 0, snapshot
    )
    return snapshot


def table_snapshots(path: str) -> list[dict]:
    return [
        {k: s[k] for k in ("snapshot_id", "ts", "mode", "total_rows")}
        for s in _load_snapshots(path)
    ]


def _bound_repr(v) -> tuple:
    """JSON-safe (value, type_tag) for a predicate-delete bound. The
    tag restores the bound's OWN type at apply time so Spark's normal
    binary-comparison coercion decides the compare type (a date column
    against a timestamp bound must compare as timestamps — casting the
    bound to the column type would truncate and over-delete)."""
    import datetime

    if v is None:
        return None, None
    if isinstance(v, bool):
        raise ValueError("boolean bounds are not supported")
    if isinstance(v, (int, float)):
        return v, "num"
    if isinstance(v, str):
        return v, "str"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" "), "timestamp"
    if isinstance(v, datetime.date):
        return v.isoformat(), "date"
    raise ValueError(f"unsupported bound type: {v!r}")


def _bound_lit(raw, tag):
    from pyspark.sql import functions as F

    if tag in ("num", "str"):
        return F.lit(raw)
    return F.lit(raw).cast(tag)


def _carry_delete_files(prev_snap: dict, new_paths: set[str]) -> list[dict]:
    """Propagate row-level delete entries into a new snapshot: each
    entry applies only to the data-file paths it targeted at commit
    time, so when a targeted file leaves the manifest (its partition
    replaced, or dropped by a range delete) its path is pruned; an
    entry with no surviving targets is dropped."""
    out = []
    for d in prev_snap.get("delete_files") or []:
        paths = [p for p in d["paths"] if p in new_paths]
        if paths:
            out.append({**d, "paths": paths})
    return out


def _scan_files(
    spark: SparkSession,
    snap: dict,
    files: list[dict],
) -> DataFrame:
    """Plan a read of manifest file entries: snapshot schema (old files
    null-fill evolved columns), partition columns re-attached from the
    manifest and cast, and — merge-on-read — the snapshot's row-level
    ``delete_files`` applied to exactly the data files they target.

    Delete entries come in two shapes (both metadata-light, neither
    rewrites data files at commit time):

    * ``eq``  — an equality-delete parquet of key tuples
      (Iceberg v2 equality deletes): applied as a broadcast LEFT ANTI
      join on ``cols`` to the targeted files,
    * ``pred`` — a range predicate (col, lo, hi bounds stored in the
      stats-canonical form and cast back to the column type): applied
      as the null-safe complement filter.

    Files are grouped by their applicable delete-entry set so each
    entry is planned once; untargeted files take the plain scan path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    full_schema = StructType.fromJson(snap["schema"])
    if not files:
        return local_frame(spark, [], full_schema)
    deletes = snap.get("delete_files") or []
    # group key includes the FILE's OWN partition-key set: after
    # partition-spec evolution (evolve_partition_spec) the manifest
    # holds files written under different specs — each file's
    # partitioned-out columns come from ITS manifest entry, and the
    # columns it carries physically come from its data, regardless of
    # the snapshot's current spec
    groups: dict[tuple, list[dict]] = {}
    for f in files:
        dkey = tuple(
            i for i, d in enumerate(deletes) if f["path"] in d["paths"]
        )
        sig = json.dumps(f["fields"], sort_keys=True)
        pspec = tuple(sorted(f["partition"].keys()))
        groups.setdefault((dkey, sig, pspec), []).append(f)

    types = {f["name"]: f["type"] for f in snap["schema"]["fields"]}
    parts: list[DataFrame] = []
    for key, sig, pspec in sorted(groups):
        group = groups[(key, sig, pspec)]
        fpart = [c for c in pspec if c in types]  # this group's spec
        cur_fields = [
            f for f in snap["schema"]["fields"] if f["name"] not in fpart
        ]
        mapping = group[0]["fields"]
        paths = [g["path"] for g in group]
        # field-id projection (Iceberg semantics): read each field
        # under the physical (name, type) it was WRITTEN with, then
        # rename/cast to the current schema — rename follows the
        # id, drop simply stops projecting, a re-added name has a
        # NEW id and never resurrects old data, widening casts
        # (write-time type -> current) per file
        phys: list[StructField] = []
        seen = set()
        exprs = []
        for f in cur_fields:
            ent = mapping.get(str(_field_id(f)))
            if ent is None:
                exprs.append(
                    F.lit(None)
                    .cast(_datatype_from_json(f["type"]))
                    .alias(f["name"])
                )
                continue
            if ent["name"] not in seen:
                seen.add(ent["name"])
                phys.append(
                    StructField(
                        ent["name"], _datatype_from_json(ent["type"]),
                        True,
                    )
                )
            col = F.col(ent["name"])
            if _sans_nullability(ent["type"]) != _sans_nullability(
                f["type"]
            ):
                col = col.cast(_datatype_from_json(f["type"]))
            exprs.append(col.alias(f["name"]))
        if not phys and mapping:
            # no current field maps into this file (all dropped):
            # scan one physical column to preserve row count
            any_ent = next(iter(mapping.values()))
            phys.append(
                StructField(
                    any_ent["name"],
                    _datatype_from_json(any_ent["type"]), True,
                )
            )
        df = spark.read.schema(StructType(phys)).parquet(*paths)
        df = df.select(*exprs) if exprs else df
        df = _attach_partition_cols(spark, df, group, fpart)
        for pcol in fpart:
            df = df.withColumn(pcol, F.col(pcol).cast(types[pcol]))
        df = df.select([f.name for f in full_schema.fields])
        for i in key:
            d = deletes[i]
            if d["type"] == "eq":
                # file_cols = the delete parquet's physical column
                # names at commit time; cols = the CURRENT logical
                # names (rename_column updates them)
                fcols = d.get("file_cols") or d["cols"]
                keys = spark.read.parquet(d["path"]).select(
                    [F.col(fc).alias(c) for fc, c in zip(fcols, d["cols"])]
                )
                df = df.join(F.broadcast(keys), d["cols"], "left_anti")
            else:  # pred: range predicate, SQL DELETE null semantics
                col = d["col"]
                in_range = F.lit(True)
                if d.get("lo") is not None:
                    in_range = in_range & (
                        F.col(col) >= _bound_lit(d["lo"], d["lo_type"])
                    )
                if d.get("hi") is not None:
                    in_range = in_range & (
                        F.col(col) <= _bound_lit(d["hi"], d["hi_type"])
                    )
                df = df.filter(~in_range | F.col(col).isNull())
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_table(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
) -> DataFrame:
    """Plan the read from the manifest: pick the snapshot, prune files
    by partition values AND per-file column min/max stats, scan only
    the surviving files.

    ``stats_filter`` maps column -> (lo, hi) (either bound None for
    open-ended): files whose recorded [min, max] range is disjoint are
    never opened (Iceberg data skipping), and the SAME range predicate
    is applied row-level to the surviving files, so the result equals
    a full scan + filter exactly — pruning is a transparent
    optimization."""
    snapshots = _load_snapshots(path)
    if not snapshots:
        raise FileNotFoundError(f"no table at {path}")
    if snapshot_id is None:
        snap = snapshots[-1]
    else:
        matching = [s for s in snapshots if s["snapshot_id"] == snapshot_id]
        if not matching:
            raise ValueError(f"no snapshot {snapshot_id} in {path}")
        snap = matching[0]
    files = _snap_files(path, snap)
    if partition_filter:
        files = [f for f in files if _partition_match(f, partition_filter)]
    if stats_filter:
        files = [
            f for f in files
            if _stats_match(f, stats_filter, snap["schema"])
        ]
    # snapshot-schema read (old files null-fill evolved columns),
    # partition columns re-attached from the manifest, merge-on-read
    # delete entries applied — all in the shared scan planner
    df = _scan_files(spark, snap, files)
    if partition_filter:
        # row-level backstop of the manifest pruning: files written
        # under a different partition spec (evolve_partition_spec)
        # survive pruning because their entries lack the key — the
        # same predicate applied to the rows (string-compared, the
        # directory-value convention _partition_match uses) keeps the
        # result exact; on a single-spec table it filters nothing
        from pyspark.sql import functions as F

        for k, v in partition_filter.items():
            vals = (
                [_filter_str(x) for x in v]
                if isinstance(v, (list, tuple, set, frozenset))
                else [_filter_str(v)]
            )
            df = df.filter(F.col(k).cast("string").isin(vals))
    if stats_filter:
        from pyspark.sql import functions as F

        for col, (lo, hi) in stats_filter.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
    return df


def _attach_partition_cols(
    spark: SparkSession, df: DataFrame, files: list[dict],
    partition_by: list[str],
) -> DataFrame:
    """Re-attach partition columns pruned out of the data files, from
    the MANIFEST's per-file partition values (broadcast file->value
    map joined on input_file_name) — never from path regexes, which
    mis-parse Hive-escaped values (lang='a=b' -> dir lang=a%3Db) and,
    unanchored, match a column whose name suffixes another's
    (sub_bucket=3/bucket=7)."""
    import pyspark.sql.functions as F

    missing = [c for c in partition_by if c not in df.columns]
    if not missing:
        return df
    rows = [
        tuple([f["path"]] + [f["partition"].get(c) for c in missing])
        for f in files
    ]
    schema = ", ".join(["_file_path string"] + [f"{c} string" for c in missing])
    # a JVM LocalRelation: no Python-worker job on every read
    fmap = local_frame(spark, rows, schema)
    # input_file_name returns a PERCENT-ENCODED URI; the manifest
    # stores plain filesystem paths. A path with a space, '%',
    # non-ASCII, or Hive-escaped partition dirs (lang=a%3Db re-encodes
    # to a%253Db) would silently miss the join without decoding. JVM
    # url_decode is form-decoding ('+' -> space), which URI encoding
    # never produces — pre-escaping literal '+' to %2B makes it an
    # exact percent-decode, all Catalyst-side.
    df = df.withColumn(
        "_file_path",
        F.url_decode(
            F.regexp_replace(
                F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
                r"\+", "%2B",
            )
        ),
    )
    return df.join(F.broadcast(fmap), "_file_path", "left").drop("_file_path")


# ------------------------------------------------------------------
# Schema evolution DDL (Iceberg semantics: column identity is the
# FIELD ID, not the name). Each operation commits a METADATA-ONLY
# snapshot — same data files, new schema — and the read side
# (_scan_files) projects every file through its recorded
# field_id -> (physical name, type) mapping, so:
#   * rename is instant and old files keep serving the column,
#   * widening (int->long, float->double) casts each file from its
#     write-time type,
#   * time travel to a pre-evolution snapshot sees the schema — and
#     the column names/types — of its day.


def _evolution_base(path: str):
    snapshots = _load_snapshots(path)
    if not snapshots:
        raise FileNotFoundError(f"no table at {path}")
    snap = snapshots[-1]
    # evolution is metadata-only, so the new snapshot carries every
    # manifest BY REF — zero manifest bytes
    return (
        snap, snap["schema"], snap["last_field_id"],
        _snap_files(path, snap), list(_snap_refs(path, snap)),
    )


def _commit_next(path: str, snap: dict, refs: list[str], **fields) -> dict:
    """Commit the snapshot that follows ``snap`` (optimistic CAS on its
    id) with ``refs`` as its manifest list. It keeps ``snap``'s schema,
    partition spec, sort order and delete entries unless ``fields`` —
    which also give its mode, commit, total_rows and properties —
    override them."""
    new_snap = {
        "snapshot_id": snap["snapshot_id"] + 1,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "schema": snap["schema"],
        "last_field_id": snap["last_field_id"],
        "partition_by": snap["partition_by"],
        "sort_by": snap.get("sort_by") or [],
        "delete_files": list(snap.get("delete_files") or []),
        "manifest_list": _write_manifest_list(path, refs),
        **fields,
    }
    _commit_snapshot(path, snap["snapshot_id"], new_snap)
    return new_snap


def rename_column(path: str, old: str, new: str) -> dict:
    """Metadata-only column rename. Existing files keep their physical
    name; the field id carries the identity. Sort order and pending
    delete entries follow the rename; partition columns cannot be
    renamed (their name is baked into directory layout)."""
    snap, schema, last, files, refs = _evolution_base(path)
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old in snap["partition_by"] or any(
        old in f["partition"] for f in files
    ):
        # current spec OR any live file's write-time spec: the name is
        # baked into that file's directory layout / manifest values
        raise ValueError("cannot rename a partition column")
    schema = {
        **schema,
        "fields": [
            {**f, "name": new} if f["name"] == old else f
            for f in schema["fields"]
        ],
    }
    sort_by = [new if c == old else c for c in snap.get("sort_by") or []]
    delete_files = []
    for d in snap.get("delete_files") or []:
        d = dict(d)
        if d["type"] == "eq":
            d["cols"] = [new if c == old else c for c in d["cols"]]
        elif d.get("col") == old:
            d["col"] = new
        delete_files.append(d)
    return _commit_next(
        path, snap, refs, mode="evolve-rename", commit="metadata",
        schema=schema, last_field_id=last, sort_by=sort_by,
        delete_files=delete_files, total_rows=sum(f["rows"] for f in files),
        properties={"renamed": {old: new}},
    )


_WIDENINGS = {("integer", "long"), ("float", "double")}


def widen_column(path: str, name: str, new_type: str) -> dict:
    """Metadata-only safe type promotion (Iceberg's allowed set:
    int->long, float->double). Old files keep their narrow physical
    type and are cast at read time via the field-id mapping."""
    snap, schema, last, files, refs = _evolution_base(path)
    by_name = {f["name"]: f for f in schema["fields"]}
    if name not in by_name:
        raise ValueError(f"no column {name!r}")
    cur_type = by_name[name]["type"]
    if cur_type == new_type:
        return snap
    if (cur_type, new_type) not in _WIDENINGS:
        raise ValueError(
            f"unsafe type change {cur_type} -> {new_type}; allowed: "
            f"{sorted(_WIDENINGS)}"
        )
    schema = {
        **schema,
        "fields": [
            {**f, "type": new_type} if f["name"] == name else f
            for f in schema["fields"]
        ],
    }
    return _commit_next(
        path, snap, refs, mode="evolve-widen", commit="metadata",
        schema=schema, last_field_id=last,
        total_rows=sum(f["rows"] for f in files),
        properties={"widened": {name: [cur_type, new_type]}},
    )


def zorder_frame(
    df: DataFrame, cols: list[str], n_files: int, bits: int = 16
) -> DataFrame:
    """Cluster rows along a Z-order (Morton) curve over ``cols`` —
    Iceberg's multi-dimensional rewrite strategy. 1-D ``sort_by``
    gives tight per-file ranges on ONE column; interleaving the bits
    of k min-max-normalized columns gives every file a tight
    k-dimensional bounding box, so footer min/max stats
    (``read_table(stats_filter=...)``) prune files for predicates on
    ANY of the clustered columns.

    Shape: one 1-row min/max agg (driver scalar), then a pure-JVM
    arithmetic key (shift/mask terms, codegen-friendly — no UDF) and
    one range repartition on it; the key never enters the schema.
    Columns must be numeric (normalization is (v - min) / span)."""
    from pyspark.sql import functions as F

    if not cols or n_files < 1:
        raise ValueError("zorder_frame needs columns and n_files >= 1")
    # interleaved positions must stay below the long sign bit: with
    # bits=16 and 4+ columns positions reach 63 (sign-flips key order)
    # and at 5+ columns shiftleft's mod-64 count masking ALIASES
    # positions — order silently corrupts (r7 ADVICE). Auto-shrink:
    # fewer bits per column coarsens clustering but keeps it correct.
    if len(cols) > 63:
        # 64+ columns would shrink bits to 0 and the interleave key
        # would degenerate to a constant (no clustering at all)
        raise ValueError("zorder_frame supports at most 63 columns")
    if bits * len(cols) > 63:
        bits = max(63 // len(cols), 1)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    k = len(cols)
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn = float(row[f"_mn_{c}"] or 0)
        mx = float(row[f"_mx_{c}"] or 0)
        span = (mx - mn) or 1.0
        scaled = F.floor(
            (F.col(c).cast("double") - F.lit(mn))
            / F.lit(span)
            * F.lit(float((1 << bits) - 1))
        ).cast("long")
        norm = F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit((1 << bits) - 1).cast("long"), scaled),
        )
        for b in range(bits):
            # bit b of column i lands at interleaved position b*k + i
            key = key + F.shiftleft(
                F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * k + i
            ).cast("long")
    return (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )


def evolve_partition_spec(path: str, new_partition_by: list[str]) -> dict:
    """Metadata-only partition-spec change (Iceberg partition
    evolution): subsequent writes lay data out under the NEW spec;
    existing files are untouched and keep serving reads under the spec
    they were written with — the scan planner groups files by their
    own partition-key set, sources partitioned-out columns from each
    file's manifest entry and the rest from its data, and partition
    pruning keeps (never wrongly drops) other-spec files, with
    read_table's row-level backstop preserving filter exactness. A
    ``replace_partitions`` write matches partitions by their full value
    tuple, so it never replaces an other-spec file."""
    snap, schema, last, files, refs = _evolution_base(path)
    new_partition_by = list(new_partition_by or [])
    names = [f["name"] for f in schema["fields"]]
    missing = [c for c in new_partition_by if c not in names]
    if missing:
        raise ValueError(f"partition columns not in schema: {missing}")
    if len(set(new_partition_by)) != len(new_partition_by):
        raise ValueError("duplicate partition columns")
    if new_partition_by == snap["partition_by"]:
        return snap
    return _commit_next(
        path, snap, refs, mode="evolve-partition-spec", commit="metadata",
        schema=schema, last_field_id=last, partition_by=new_partition_by,
        total_rows=sum(f["rows"] for f in files),
        properties={
            "partition_spec": [snap["partition_by"], new_partition_by]
        },
    )


def upsert_rows(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
) -> dict:
    """Row-level MERGE, merge-on-read (Iceberg v2 equality deletes):
    current rows whose ``key`` matches an update are deleted, every
    update row is inserted. No data file is rewritten: the commit adds
    the updates as new data files plus one equality-delete file of the
    update keys, targeting exactly the files whose recorded column
    stats could hold an update key. Readers apply it as a broadcast
    anti-join at scan time (_scan_files). An upsert that touches no
    file commits the updates as a plain append. Earlier snapshots still
    time-travel to the pre-merge rows.

    ``updates`` must carry the full table schema (use write_table for
    schema evolution first). Returns the new snapshot record, whose
    properties report ``delete_targets`` and ``carried_files``."""
    snapshots = _load_snapshots(path)
    if not snapshots:
        raise FileNotFoundError(f"no table at {path}")
    snap = snapshots[-1]
    snap_files = _snap_files(path, snap)
    table_cols = [f["name"] for f in snap["schema"]["fields"]]
    if sorted(updates.columns) != sorted(table_cols):
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != table "
            f"{sorted(table_cols)}"
        )
    missing_key = [k for k in key if k not in table_cols]
    if missing_key:
        raise ValueError(f"key columns not in table: {missing_key}")
    # Iceberg MERGE rejects multiple source matches per target row;
    # two updates for one key would both insert, silently growing the
    # table — fail loudly instead
    from pyspark.sql import functions as F

    dup = (
        updates.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"updates contain duplicate key {[dup[0][k] for k in key]} — "
            "MERGE requires one update row per key"
        )

    # File targeting. For a bounded number of distinct update keys,
    # test PER FILE whether any update key TUPLE falls inside the
    # file's recorded per-column [min, max] box: sorted tuples + binary
    # search on the leading key column narrow the candidate span, the
    # remaining columns' bounds filter within it — so one outlier key
    # only touches its own file, not a global bounding box spanning
    # the table, for single AND composite keys. Huge update sets fall
    # back to the per-column bounding box, which is a superset and
    # therefore always safe; files without stats are always touched
    # (they might hold matching keys).
    _KEYSET_CAP = 100_000
    keyset = None
    distinct = (
        updates.select(*key).dropDuplicates().limit(_KEYSET_CAP + 1)
    ).collect()
    if len(distinct) <= _KEYSET_CAP:
        tuples = []
        for r in distinct:
            vals = tuple(_stats_value(r[k]) for k in key)
            if any(v is None for v in vals):
                tuples = None
                break
            tuples.append(vals)
        if tuples is not None:
            keyset = sorted(tuples)

    if keyset is not None:
        import bisect

        first = [t[0] for t in keyset]

        def is_touched(f: dict) -> bool:
            stats = f.get("stats") or {}
            sts = [
                stats.get(_physical_col(f, k, snap["schema"]) or "")
                for k in key
            ]
            try:
                if sts[0] is None:
                    span = range(len(keyset))
                else:
                    lo, hi = sts[0]
                    span = range(
                        bisect.bisect_left(first, lo),
                        bisect.bisect_right(first, hi),
                    )
                for idx in span:
                    t = keyset[idx]
                    if all(
                        st is None or st[0] <= t[c] <= st[1]
                        for c, st in enumerate(sts)
                    ):
                        return True
                return False
            except TypeError:
                # incomparable stored/update representations: keep the
                # file — targeting is an optimization, never a gate
                return True

    else:
        bounds_row = updates.agg(
            *[F.min(k).alias(f"_lo_{k}") for k in key],
            *[F.max(k).alias(f"_hi_{k}") for k in key],
        ).collect()[0]
        key_filter = {
            k: (bounds_row[f"_lo_{k}"], bounds_row[f"_hi_{k}"]) for k in key
        }

        def is_touched(f: dict) -> bool:
            return _stats_match(f, key_filter, snap["schema"])

    touched = [f for f in snap_files if is_touched(f)]

    # the updates keep the table's clustering, so stats stay tight
    # across repeated upserts
    commit_id, new_files = _write_data_files(
        updates.select(*table_cols), path, snap["partition_by"],
        snap.get("sort_by"), snap["schema"],
    )
    # nothing leaves the table: previous manifests carry by ref, and so
    # does every pending delete entry
    refs, files = _next_manifests(path, snap, set(), new_files)
    delete_files = [dict(d) for d in snap.get("delete_files") or []]
    if touched:
        eq_path = _write_eq_delete(
            spark, path, commit_id, updates.select(*key).dropDuplicates()
        )
        delete_files.append(
            {
                "type": "eq",
                "path": eq_path,
                "cols": list(key),
                "file_cols": list(key),
                "paths": [f["path"] for f in touched],
            }
        )
    return _commit_next(
        path, snap, refs, mode="upsert-mor", commit=commit_id,
        delete_files=delete_files,
        total_rows=sum(f["rows"] for f in files),
        properties={
            "delete_targets": len(touched),
            "carried_files": len(snap_files),
        },
    )


def _write_eq_delete(spark, path: str, commit_id: str, keys: DataFrame) -> str:
    """Write an equality-delete parquet (one file) under the table's
    deletes/ area; returns the data file path."""
    del_dir = os.path.join(path, "deletes", f"commit={commit_id}")
    keys.coalesce(1).write.mode("overwrite").parquet(del_dir)
    parts = [
        os.path.join(del_dir, n)
        for n in os.listdir(del_dir)
        if n.endswith(".parquet")
    ]
    if len(parts) != 1:
        raise RuntimeError(f"expected one delete file in {del_dir}")
    return parts[0]


def delete_range(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
) -> dict:
    """Row-level range DELETE (the retention/GDPR shape: ``DELETE
    WHERE col BETWEEN lo AND hi``, either bound open), merge-on-read:
    the commit is metadata-only and reads or writes no data file. SQL
    DELETE semantics: a NULL ``col`` makes the predicate UNKNOWN, so
    NULL rows are always KEPT. Three file classes from the manifest
    stats:

    * fully inside the range AND proven null-free -> DROPPED from the
      manifest (parquet min/max ignore NULLs, so the drop additionally
      requires the file's ``nullfree`` flag — otherwise its NULL rows
      would vanish with it),
    * disjoint                -> carried by reference (NULL rows kept),
    * overlapping, stats-less, or inside-but-maybe-null -> kept in
      place and covered by a predicate-delete entry, applied at scan
      time as the null-safe complement filter.

    Earlier snapshots still time-travel to the deleted rows. Returns
    the new snapshot; properties report dropped/carried file counts
    and ``delete_targets``."""
    snapshots = _load_snapshots(path)
    if not snapshots:
        raise FileNotFoundError(f"no table at {path}")
    snap = snapshots[-1]
    lo_c, hi_c = _stats_value(lo), _stats_value(hi)
    if lo_c is None and lo is not None:
        raise ValueError(f"unsupported bound type for {col}: {lo!r}")
    if hi_c is None and hi is not None:
        raise ValueError(f"unsupported bound type for {col}: {hi!r}")

    dropped, carried, targets = [], [], []
    for f in _snap_files(path, snap):
        pcol = _physical_col(f, col, snap["schema"])
        st = (f.get("stats") or {}).get(pcol) if pcol else None
        if not st:
            targets.append(f)
            continue
        fmin, fmax = st
        # _cmp_stats returning None (incomparable representations,
        # e.g. numeric bound vs string stats) degrades to a delete
        # target — never a crash, never a wrong drop/carry
        c_min_lo = _cmp_stats(fmin, lo_c) if lo is not None else None
        c_max_lo = _cmp_stats(fmax, lo_c) if lo is not None else None
        c_min_hi = _cmp_stats(fmin, hi_c) if hi is not None else None
        c_max_hi = _cmp_stats(fmax, hi_c) if hi is not None else None
        inside_lo = lo is None or (c_min_lo is not None and c_min_lo >= 0)
        inside_hi = hi is None or (c_max_hi is not None and c_max_hi <= 0)
        disjoint = (c_max_lo is not None and c_max_lo < 0) or (
            c_min_hi is not None and c_min_hi > 0
        )
        nullfree = pcol in (f.get("nullfree") or [])
        if inside_lo and inside_hi and nullfree:
            dropped.append(f)
        elif disjoint:
            carried.append(f)
        else:
            targets.append(f)

    # only manifests holding a DROPPED file are rewritten
    refs, files = _next_manifests(
        path, snap, {f["path"] for f in dropped}, []
    )
    delete_files = _carry_delete_files(snap, {f["path"] for f in files})
    if targets:
        lo_repr, lo_tag = _bound_repr(lo)
        hi_repr, hi_tag = _bound_repr(hi)
        delete_files.append(
            {
                "type": "pred",
                "col": col,
                "lo": lo_repr,
                "lo_type": lo_tag,
                "hi": hi_repr,
                "hi_type": hi_tag,
                "paths": [f["path"] for f in targets],
            }
        )
    return _commit_next(
        path, snap, refs, mode="delete-mor", commit="metadata",
        delete_files=delete_files,
        total_rows=sum(f["rows"] for f in files),
        properties={
            "dropped_files": len(dropped),
            "delete_targets": len(targets),
            "carried_files": len(carried),
        },
    )
